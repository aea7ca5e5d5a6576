"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with struct metadata —
the Spark-side contract (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested. No image library ships in this container;
decode is nevertheless REAL for the formats that need no native codec:
PNG (stdlib zlib + scanline unfiltering; gray/RGB/RGBA/gray+alpha/palette,
bit depths 1-16, Adam7 interlace), uncompressed BMP, baseline + progressive
JPEG, GIF, TIFF (functions/imagedec.py), and WebP-lossless
(functions/vp8l.py). Arithmetic-coded JPEG, lossy VP8, and exotic variants
stay declared NotImplementedError stubs.

Ops:
* ``probe_media``      — container format + dimensions + EXIF
                         (orientation/datetime/map) from headers
* ``decode_image``     — PNG/BMP/JPEG/GIF/TIFF/WebP-lossless → HxWx3 uint8
* ``extract_features`` — mapInPandas over binary batches → fixed-width float
                         vector per row (deterministic fake: byte histogram)
* ``frame_sample``     — UDTF-shaped: one media row → N frame rows (offsets
                         computed for real; frame bytes are zero-stubs)
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.imagedec import ifd_entries

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("exif", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_DIM = 64


def sniff_media(payload: bytes) -> tuple[str, int | None, int | None]:
    """Parse container magic + dimensions from headers (no codec needed)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        width, height = _struct.unpack(">II", payload[16:24])
        return "png", int(width), int(height)
    if payload[:3] == b"\xff\xd8\xff":
        # walk JPEG segments to SOF0/SOF2
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in (0xC0, 0xC2):
                height, width = _struct.unpack(">HH", payload[i + 5 : i + 9])
                return "jpeg", int(width), int(height)
            seg_len = _struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return "jpeg", None, None
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        width, height = _struct.unpack("<HH", payload[6:10])
        return "gif", int(width), int(height)
    if payload[:2] == b"BM" and len(payload) >= 26:
        width, height = _struct.unpack_from("<ii", payload, 18)
        return "bmp", int(width), abs(int(height))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav", None, None
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        # bare TIFF: dimensions live in IFD0 tags 0x0100/0x0101
        exif = parse_exif(payload)
        w, h = exif.get("ImageWidth"), exif.get("ImageLength")
        return (
            "tiff",
            int(w) if w and w.isdigit() else None,
            int(h) if h and h.isdigit() else None,
        )
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP" and len(payload) >= 30:
        chunk = payload[12:16]
        if chunk == b"VP8L" and payload[20] == 0x2F:
            # 14-bit width-1 / height-1, LSB-first from byte 21
            bits = int.from_bytes(payload[21:25], "little")
            return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if chunk == b"VP8 ":  # lossy: dims live in the frame header —
            # classified DISTINCTLY (webp_lossy) because decode routes it to
            # the declared ship-PIL boundary, not the in-repo VP8L decoder
            if payload[23:26] == b"\x9d\x01\x2a":
                w, h = _struct.unpack_from("<HH", payload, 26)
                return "webp_lossy", (w & 0x3FFF), (h & 0x3FFF)
            return "webp_lossy", None, None
        if chunk == b"VP8X" and len(payload) >= 30:
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            # extended container: animation flag bit 1 of the feature byte
            kind = "webp_anim" if payload[20] & 0x02 else "webp_extended"
            return kind, w, h
        return "webp", None, None
    return "unknown", None, None


# EXIF tag-id → name subset (reference metadata_extractor.py:168-175 uses
# PIL's TAGS mapping and stringifies every value; this is the no-codec
# equivalent — the IFD walk itself needs no image library)
_EXIF_TAGS = {
    0x0100: "ImageWidth",
    0x0101: "ImageLength",
    0x010F: "Make",
    0x0110: "Model",
    0x0112: "Orientation",
    0x0131: "Software",
    0x0132: "DateTime",
    0x829A: "ExposureTime",
    0x8827: "ISOSpeedRatings",
    0x9003: "DateTimeOriginal",
    0x9004: "DateTimeDigitized",
    0xA002: "PixelXDimension",
    0xA003: "PixelYDimension",
}
_EXIF_IFD_POINTER = 0x8769


def _find_tiff(payload: bytes) -> bytes | None:
    """Return the TIFF stream (EXIF container): bare TIFF files start with
    it; JPEGs carry it in an APP1 segment tagged ``Exif\\0\\0``."""
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return payload
    if payload[:3] != b"\xff\xd8\xff":
        return None
    i = 2
    while i + 4 <= len(payload) and payload[i] == 0xFF:
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > len(payload):
            break
        seg_len = _struct.unpack(">H", payload[i + 2 : i + 4])[0]
        if marker == 0xE1 and payload[i + 4 : i + 10] == b"Exif\x00\x00":
            return payload[i + 10 : i + 2 + seg_len]
        if marker == 0xDA:  # start of scan — no EXIF before image data
            break
        i += 2 + seg_len
    return None


def _exif_ifd(tiff: bytes, offset: int, bo: str, out: dict[str, str]) -> int | None:
    """Stringify one IFD's known tags into ``out`` (reference parity: every
    EXIF value is str()-ed); returns the Exif sub-IFD offset if seen."""
    sub_ifd = None
    for tag, typ, count, raw in ifd_entries(tiff, offset, bo):
        if typ == 2:  # ASCII, NUL-terminated
            value: object = raw.split(b"\x00")[0].decode("ascii", errors="replace")
        elif typ == 3:
            vals = _struct.unpack(bo + f"{count}H", raw)
            value = vals[0] if count == 1 else vals
        elif typ in (4, 9):
            vals = _struct.unpack(bo + f"{count}{'I' if typ == 4 else 'i'}", raw)
            value = vals[0] if count == 1 else vals
        elif typ in (5, 10):
            code = "I" if typ == 5 else "i"
            nums = _struct.unpack(bo + f"{2 * count}{code}", raw)
            pairs = [f"{nums[2 * j]}/{nums[2 * j + 1]}" for j in range(count)]
            value = pairs[0] if count == 1 else tuple(pairs)
        else:
            value = raw.hex()
        if tag == _EXIF_IFD_POINTER:
            sub_ifd = int(value) if isinstance(value, int) else None
        elif tag in _EXIF_TAGS:
            out[_EXIF_TAGS[tag]] = str(value)
    return sub_ifd


def parse_exif(payload: bytes) -> dict[str, str]:
    """Pure-Python EXIF extraction: APP1/TIFF header → byte order → IFD0 →
    Exif sub-IFD, stringified values (metadata_extractor.py:166-175 parity,
    no codec needed for the IFD walk)."""
    tiff = _find_tiff(payload)
    out: dict[str, str] = {}
    if tiff is None or len(tiff) < 8:
        return out
    bo = "<" if tiff[:2] == b"II" else ">"
    (ifd0,) = _struct.unpack_from(bo + "I", tiff, 4)
    try:
        sub = _exif_ifd(tiff, ifd0, bo, out)
        if sub:
            _exif_ifd(tiff, sub, bo, out)
    except (_struct.error, IndexError, ValueError):
        pass
    return out


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
    """Decode to an HxWx3 uint8 array.

    REAL for PNG (pure-Python: stdlib zlib + scanline unfiltering) and
    uncompressed BMP; JPEG/GIF still need a codec (PIL via --py-files in a
    full deployment) and raise NotImplementedError.
    """
    fmt, _, _ = sniff_media(payload)
    if fmt == "png":
        return _decode_png(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if fmt == "jpeg":
        from ..functions.imagedec import decode_jpeg

        # baseline (SOF0) and progressive (SOF2); arithmetic coding and
        # 12-bit raise NotImplementedError from the decoder itself
        return decode_jpeg(payload)
    if fmt == "gif":
        from ..functions.imagedec import decode_gif

        return decode_gif(payload)
    if fmt == "tiff":
        from ..functions.imagedec import decode_tiff

        return decode_tiff(payload)
    if fmt in ("webp", "webp_lossy", "webp_extended", "webp_anim"):
        # decode_webp walks the RIFF chunks: VP8L decodes for real; lossy
        # VP8 / animation raise their specific declared-boundary message
        from ..functions.vp8l import decode_webp

        return decode_webp(payload)
    raise NotImplementedError(
        f"image decode for format={fmt!r} requires an image codec; "
        "ship PIL via --py-files in a full deployment"
    )


def probe_media(df: DataFrame) -> DataFrame:
    """binary ``media`` column → media metadata struct (Arrow-batched,
    header-only)."""
    meta_schema = MEDIA_META_SCHEMA

    out_cols = ["key"] + [f.name for f in meta_schema.fields]

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, payload in zip(pdf["key"], pdf["media"]):
                b = bytes(payload)
                fmt, width, height = sniff_media(b)
                exif = parse_exif(b)
                orient = exif.get("Orientation")
                rows.append(
                    {
                        "key": key,
                        "format": fmt,
                        "width": width,
                        "height": height,
                        "bytes": len(b),
                        "orientation": int(orient) if orient and orient.isdigit() else None,
                        "datetime": exif.get("DateTimeOriginal") or exif.get("DateTime"),
                        "exif": exif or None,
                    }
                )
            yield pd.DataFrame(rows, columns=out_cols)

    schema = T.StructType([T.StructField("key", T.StringType(), False)] + list(meta_schema.fields))
    return df.select(F.col("key"), F.col("media")).mapInPandas(probe, schema=schema)


def extract_features(df: DataFrame) -> DataFrame:
    """binary ``media`` column → array<float> feature vector (deterministic fake:
    64-bin normalized byte histogram; the Arrow plumbing is the real part)."""

    schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.FloatType()), True),
        ]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, payload in zip(pdf["key"], pdf["media"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
                total = hist.sum() or 1
                rows.append({"key": key, "features": (hist / total).astype(np.float32).tolist()})
            yield pd.DataFrame(rows, columns=["key", "features"])

    return df.select(F.col("key"), F.col("media")).mapInPandas(featurize, schema=schema)


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """One ``media`` row → n frame rows with computed byte offsets (UDTF shape).
    Frame payloads are zero-stubs; offsets/indices are real."""

    schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("byte_offset", T.LongType(), False),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, payload in zip(pdf["key"], pdf["media"]):
                size = len(bytes(payload))
                for idx in range(n_frames):
                    rows.append(
                        {
                            "key": key,
                            "frame_idx": idx,
                            "byte_offset": (size * idx) // n_frames,
                            "frame": b"",  # STUB: codec required for real frames
                        }
                    )
            yield pd.DataFrame(rows, columns=["key", "frame_idx", "byte_offset", "frame"])

    return df.select(F.col("key"), F.col("media")).mapInPandas(sample, schema=schema)


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
                fmt, _, _ = sniff_media(b)
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
