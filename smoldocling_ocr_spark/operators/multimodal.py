"""Multimodal surface: image decode over ``binary`` columns, value-checked.

Its entry point is the catalog query ``multimodal_decode_stats``: Spark
decodes a deterministic 96-row fixture of real PNG / BMP / TIFF /
WebP-lossless encodings inside Arrow batches, and a DuckDB oracle predicts
every aggregate from the fixture's generation law. No image library ships
in this container; decode is REAL for exactly those four formats, which
need no native codec: PNG (stdlib zlib + scanline unfiltering; gray / RGB /
RGBA / gray+alpha / palette, bit depths 1-16, Adam7 interlace),
uncompressed BMP, TIFF (functions/imagedec.py) and WebP-lossless
(functions/vp8l.py). Lossy VP8 and animated WebP raise their declared
NotImplementedError from the WebP chunk walk; any other payload (JPEG, GIF,
...) raises NotImplementedError from ``decode_image`` and never yields
pixels.
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, functions as F


def sniff_media(payload: bytes) -> str:
    """Container format from the magic bytes (no codec needed)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        return "png"
    if payload[:2] == b"BM" and len(payload) >= 26:
        return "bmp"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP" and len(payload) >= 30:
        return "webp"
    return "unknown"


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type → samples/pixel
# Adam7 interlace passes: (x_off, y_off, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]
# legal (color_type, bit_depth) pairs per the PNG spec
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


def _png_unfilter(raw: bytes, pos: int, ph: int, stride: int, bpp: int):
    """Undo per-scanline filtering for one (sub-)image; returns (rows, pos)."""
    out = np.empty((ph, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(ph):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (int(line[x]) + int(line[x - bpp])) & 0xFF
        elif ftype == 2:  # Up
            line += prev
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(line[x - bpp]) if x >= bpp else 0
                line[x] = (line[x] + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        out[y] = line
        prev = line
    return out, pos


def _png_samples(rows: np.ndarray, pw: int, ch: int, depth: int) -> np.ndarray:
    """Filtered-byte rows → (ph, pw, ch) uint8 samples (16-bit takes the
    high byte — PIL's display convention; sub-byte depths unpack MSB-first
    per the spec)."""
    ph = rows.shape[0]
    if depth == 8:
        return rows[:, : pw * ch].reshape(ph, pw, ch)
    if depth == 16:
        return rows[:, : pw * ch * 2].reshape(ph, pw, ch, 2)[:, :, :, 0]
    bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2).astype(np.uint8)
    return vals[:, :, None]


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure-Python PNG decode (zlib is stdlib): gray / RGB / RGBA /
    gray+alpha / palette color types, bit depths 1-16 (16 → high byte),
    Adam7 interlace. Returns HxWx3 uint8."""
    import zlib

    width, height = _struct.unpack(">II", payload[16:24])
    bit_depth, color_type, _comp, _filt, interlace = payload[24:29]
    if color_type not in _PNG_CHANNELS or bit_depth not in _PNG_DEPTHS.get(color_type, ()):
        raise NotImplementedError(
            f"PNG variant unsupported (depth={bit_depth}, color_type={color_type})"
        )
    ch = _PNG_CHANNELS[color_type]
    idat = bytearray()
    plte: bytes | None = None
    i = 8
    while i + 8 <= len(payload):
        (length,) = _struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        if ctype == b"IDAT":
            idat += payload[i + 8 : i + 8 + length]
        elif ctype == b"PLTE":
            plte = payload[i + 8 : i + 8 + length]
        if ctype == b"IEND":
            break
        i += 12 + length
    raw = zlib.decompress(bytes(idat))
    bpp = max(1, ch * bit_depth // 8)
    samples = np.zeros((height, width, ch), dtype=np.uint8)
    passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
    pos = 0
    for x_off, y_off, x_step, y_step in passes:
        pw = (width - x_off + x_step - 1) // x_step
        ph = (height - y_off + y_step - 1) // y_step
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * ch * bit_depth + 7) // 8
        rows, pos = _png_unfilter(raw, pos, ph, stride, bpp)
        sub = _png_samples(rows, pw, ch, bit_depth)
        samples[y_off::y_step, x_off::x_step] = sub
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        lut = np.frombuffer(plte, dtype=np.uint8)
        lut = lut[: (len(lut) // 3) * 3].reshape(-1, 3)
        idx = np.minimum(samples[:, :, 0], len(lut) - 1)
        return lut[idx]
    if color_type in (0, 4) and bit_depth < 8:
        # scale sub-byte gray to full range (255 / (2^d − 1) is exact)
        samples = (samples * (255 // ((1 << bit_depth) - 1))).astype(np.uint8)
    if ch == 1:
        return np.repeat(samples, 3, axis=2)
    if ch == 2:  # gray+alpha → drop alpha
        return np.repeat(samples[:, :, :1], 3, axis=2)
    return samples[:, :, :3].copy()  # RGB / RGBA → drop alpha


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP → HxWx3 uint8 (bottom-up rows, BGR)."""
    (data_off,) = _struct.unpack_from("<I", payload, 10)
    width, height = _struct.unpack_from("<ii", payload, 18)
    (bpp,) = _struct.unpack_from("<H", payload, 28)
    (compression,) = _struct.unpack_from("<I", payload, 30)
    if bpp not in (24, 32) or compression != 0:
        raise NotImplementedError(f"BMP variant unsupported (bpp={bpp}, comp={compression})")
    ch = bpp // 8
    flip = height > 0
    height = abs(height)
    stride = (width * ch + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * height, offset=data_off)
    px = rows.reshape(height, stride)[:, : width * ch].reshape(height, width, ch)
    if flip:
        px = px[::-1]
    return px[:, :, 2::-1].copy() if ch >= 3 else px  # BGR(A) → RGB


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a PNG / BMP / TIFF / WebP-lossless payload to an HxWx3 uint8
    array. Any other format raises NotImplementedError: decoding it needs
    an image codec (PIL via --py-files in a full deployment)."""
    fmt = sniff_media(payload)
    if fmt == "png":
        return _decode_png(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if fmt == "tiff":
        from ..functions.imagedec import decode_tiff

        return decode_tiff(payload)
    if fmt == "webp":
        # decode_webp walks the RIFF chunks: VP8L decodes for real; lossy
        # VP8 / animation raise their specific declared-boundary message
        from ..functions.vp8l import decode_webp

        return decode_webp(payload)
    raise NotImplementedError(
        f"image decode for format={fmt!r} requires an image codec; "
        "ship PIL via --py-files in a full deployment"
    )


# --------------------------------------------------------------------------
# Deterministic media fixture + oracle-checkable distributed decode
# --------------------------------------------------------------------------

MEDIA_FIXTURE_ROWS = 96


def synth_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal real PNG (8-bit RGB, filter-0 scanlines, correct CRCs)."""
    import zlib

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            _struct.pack(">I", len(body))
            + ctype
            + body
            + _struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width
    idat = zlib.compress(row * height)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def synth_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal real BMP (24bpp, bottom-up, 4-byte row padding)."""
    stride = (width * 3 + 3) & ~3
    row = bytes((rgb[2], rgb[1], rgb[0])) * width + b"\x00" * (stride - width * 3)
    data = row * height
    header = b"BM" + _struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = _struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def synth_tiff(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal real TIFF (II, 8-bit RGB, one uncompressed strip)."""
    data = bytes(rgb) * (width * height)
    # header + pixel data, IFD0 after the strip
    ifd_off = 8 + len(data)
    out = bytearray(b"II*\x00" + _struct.pack("<I", ifd_off) + data)
    entries = [
        (256, 3, 1, width),
        (257, 3, 1, height),
        (258, 3, 3, 0),  # BitsPerSample triple lives in the extra area
        (259, 3, 1, 1),
        (262, 3, 1, 2),
        (273, 4, 1, 8),
        (277, 3, 1, 3),
        (278, 3, 1, height),
        (279, 4, 1, len(data)),
    ]
    extra_off = ifd_off + 2 + 12 * len(entries) + 4
    out += _struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        if tag == 258:
            out += _struct.pack("<HHII", tag, typ, count, extra_off)
        else:
            out += _struct.pack("<HHII", tag, typ, count, value)
    out += _struct.pack("<I", 0)  # next IFD
    out += _struct.pack("<HHH", 8, 8, 8)
    return bytes(out)


def synth_webp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal real VP8L WebP via the package's spec-valid encoder."""
    from ..functions.vp8l import encode_webp_lossless

    px = np.empty((height, width, 3), dtype=np.uint8)
    px[:, :] = rgb
    return encode_webp_lossless(px)


_FIXTURE_ENCODERS = (synth_png, synth_bmp, synth_tiff, synth_webp)
_FIXTURE_FORMATS = ("png", "bmp", "tiff", "webp")


def media_fixture(spark) -> DataFrame:
    """Deterministic (key, media) table whose generation LAW is pure
    arithmetic on the key — so a SQL oracle can predict every decoded
    statistic without being able to decode: key i is a (4 + i%13) ×
    (3 + i%7) image of constant gray value i%251, cycling PNG / BMP /
    TIFF / WebP-lossless by i%4. The bytes are REAL encodings decoded by
    the real decoders."""
    rows = []
    for i in range(MEDIA_FIXTURE_ROWS):
        w, h, c = 4 + i % 13, 3 + i % 7, i % 251
        enc = _FIXTURE_ENCODERS[i % 4]
        rows.append((i, bytearray(enc(w, h, (c, c, c)))))
    return spark.createDataFrame(rows, "key int, media binary")


def decoded_image_stats(df: DataFrame) -> DataFrame:
    """Distributed real decode (mapInPandas, Arrow batches) → per-image
    (key, format, width, height, mean_pixel as exact int for constant-color
    fixtures). The 100 TB shape: decode is embarrassingly parallel over the
    binary column; stats aggregate with map-side combine."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("key", T.IntegerType()),
            T.StructField("format", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_pixel", T.IntegerType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, payload in zip(pdf["key"], pdf["media"]):
                b = bytes(payload)
                fmt = sniff_media(b)
                px = decode_image(b)
                rows.append(
                    {
                        "key": int(key),
                        "format": fmt,
                        "width": int(px.shape[1]),
                        "height": int(px.shape[0]),
                        "mean_pixel": int(round(float(px.mean()))),
                    }
                )
            yield pd.DataFrame(rows, columns=["key", "format", "width", "height", "mean_pixel"])

    return df.select("key", "media").mapInPandas(decode, schema=schema)


def register(query) -> None:
    fmt_case = " ".join(f"WHEN {i} THEN '{f}'" for i, f in enumerate(_FIXTURE_FORMATS))

    @query(
        "multimodal_decode_stats",
        sql=f"""
        SELECT CASE (i % 4) {fmt_case} END AS format,
               count(*) AS images,
               CAST(sum(4 + i % 13) AS BIGINT) AS total_width,
               CAST(sum(3 + i % 7) AS BIGINT) AS total_height,
               CAST(sum(i % 251) AS BIGINT) AS total_mean_pixel
        FROM range({MEDIA_FIXTURE_ROWS}) t(i) GROUP BY 1 ORDER BY 1
        """,
    )
    def multimodal_decode_stats(spark, sf_dir: str) -> DataFrame:
        """Distributed image decode, value-checked end-to-end: Spark decodes
        REAL PNG/BMP/TIFF/WebP-lossless bytes inside Arrow batches; the
        DuckDB oracle computes the same aggregate from the fixture's
        generation law. A decoder that misreports a single dimension or
        pixel hash-mismatches."""
        stats = decoded_image_stats(media_fixture(spark))
        return (
            stats.groupBy("format")
            .agg(
                F.count("*").alias("images"),
                F.sum("width").alias("total_width"),
                F.sum("height").alias("total_height"),
                F.sum("mean_pixel").alias("total_mean_pixel"),
            )
            .orderBy("format")
        )
