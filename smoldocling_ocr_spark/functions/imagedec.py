"""Baseline TIFF decoding with no codec library.

Scope (TIFF 6.0, the subset a CC media pass serves): single-plane strips,
8-bit samples, gray / RGB(A) / palette photometrics, compressions None /
LZW / Deflate / PackBits, horizontal predictor. Tiled TIFF, planar
configuration 2 and non-8-bit depths raise NotImplementedError, a declared
codec boundary. PNG and BMP decode in operators/multimodal.py next to the
format sniffing; WebP-lossless in functions/vp8l.py.

Reference context: PIL accepts TIFF wherever images are opened
(metadata_extractor.py:148-207). This sandbox has no PIL, and TIFF needs
none: an IFD walk, stdlib zlib, two small decoders (LZW, PackBits) and a
numpy reshape.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

# TIFF field type → bytes per value (TIFF 6.0 §2): BYTE, ASCII, SHORT, LONG,
# RATIONAL, SBYTE, UNDEFINED, SSHORT, SLONG, SRATIONAL, FLOAT, DOUBLE
_TIFF_TYPE_BYTES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}


def ifd_entries(tiff: bytes, offset: int, bo: str) -> Iterator[tuple[int, int, int, bytes]]:
    """Walk one IFD: (tag, type, count, value bytes) per 12-byte entry. A
    value of up to 4 bytes sits in the entry itself, a longer one at the
    offset the entry holds; an entry whose value runs past the stream is
    skipped. Raises ValueError when the IFD header lies past the stream."""
    if offset + 2 > len(tiff):
        raise ValueError("truncated TIFF IFD")
    (n_entries,) = struct.unpack_from(bo + "H", tiff, offset)
    for k in range(n_entries):
        base = offset + 2 + 12 * k
        if base + 12 > len(tiff):
            return
        tag, typ, count = struct.unpack_from(bo + "HHI", tiff, base)
        size = _TIFF_TYPE_BYTES.get(typ, 1) * count
        if size <= 4:
            voff = base + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", tiff, base + 8)
        if voff + size <= len(tiff):
            yield tag, typ, count, tiff[voff : voff + size]


def _tiff_ifd_values(payload: bytes, bo: str, offset: int) -> dict[int, tuple]:
    """IFD0 → {tag: tuple(values)} for SHORT/LONG/BYTE types."""
    out: dict[int, tuple] = {}
    for tag, typ, count, raw in ifd_entries(payload, offset, bo):
        if typ == 3:
            out[tag] = struct.unpack(bo + f"{count}H", raw)
        elif typ == 4:
            out[tag] = struct.unpack(bo + f"{count}I", raw)
        elif typ == 1:
            out[tag] = tuple(raw)
    return out


def _tiff_lzw_decode(data: bytes, max_bytes: int) -> bytearray:
    """TIFF-variant LZW: MSB-first code packing, 9→12-bit codes with EARLY
    code-size change (at table size 2^bits − 1, one earlier than GIF),
    ClearCode 256 / EOI 257 (TIFF 6.0 §13)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    code_size = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= code_size and len(out) < max_bytes:
            code = (acc >> (nbits - code_size)) & ((1 << code_size) - 1)
            nbits -= code_size
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                code_size = 9
                prev = None
                continue
            if code == EOI:
                return out
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt TIFF LZW stream")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            # early change, decoder side: the decoder's table trails the
            # encoder's by ONE entry (the encoder registers the entry for
            # the code it just emitted before choosing the next width), so
            # widen when the table is TWO short of the ceiling
            if len(table) + 2 >= (1 << code_size) and code_size < 12:
                code_size += 1
            prev = entry
    return out


def _packbits_decode(data: bytes, max_bytes: int) -> bytearray:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < max_bytes:
        h = data[i]
        i += 1
        if h < 128:  # literal run of h+1 bytes
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            if i < n:
                out += bytes([data[i]]) * (257 - h)
                i += 1
        # h == 128: no-op
    return out


def decode_tiff(payload: bytes) -> np.ndarray:
    """Baseline TIFF → HxWx3 uint8. See the module docstring for scope."""
    import zlib

    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF stream")
    bo = "<" if payload[:2] == b"II" else ">"
    (ifd0,) = struct.unpack_from(bo + "I", payload, 4)
    tags = _tiff_ifd_values(payload, bo, ifd0)
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF not supported")
    width = int(tags.get(256, (0,))[0])
    height = int(tags.get(257, (0,))[0])
    if not width or not height:
        raise ValueError("TIFF missing dimensions")
    spp = int(tags.get(277, (1,))[0])
    bits = tags.get(258, (8,) * spp)
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"non-8-bit TIFF samples: {bits}")
    if int(tags.get(284, (1,))[0]) != 1:
        raise NotImplementedError("planar-configuration-2 TIFF not supported")
    compression = int(tags.get(259, (1,))[0])
    photometric = int(tags.get(262, (1,))[0])
    predictor = int(tags.get(317, (1,))[0])
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts:
        raise ValueError("TIFF missing strip layout")
    rows_per_strip = int(tags.get(278, (height,))[0]) or height

    row_bytes = width * spp
    data = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        chunk = payload[off : off + cnt]
        strip_rows = min(rows_per_strip, height - si * rows_per_strip)
        want = strip_rows * row_bytes
        if compression == 1:
            raw = bytearray(chunk[:want])
        elif compression == 5:
            raw = _tiff_lzw_decode(chunk, want)
        elif compression in (8, 32946):  # Deflate (new + old tag values)
            raw = bytearray(zlib.decompress(chunk)[:want])
        elif compression == 32773:
            raw = _packbits_decode(chunk, want)
        else:
            raise NotImplementedError(f"TIFF compression {compression} not supported")
        if len(raw) < want:
            raise ValueError("short TIFF strip")
        if predictor == 2:  # horizontal differencing, per row per sample
            arr = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(strip_rows, width, spp)
            raw = np.cumsum(arr, axis=1, dtype=np.uint32).astype(np.uint8).tobytes()
        data += raw

    px = np.frombuffer(bytes(data), dtype=np.uint8).reshape(height, width, spp)
    if photometric == 3:  # palette: ColorMap is 3 × 2^bits 16-bit values
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            raise ValueError("palette TIFF missing ColorMap")
        lut = (np.array(cmap[: 3 * 256], dtype=np.uint16).reshape(3, 256).T >> 8).astype(
            np.uint8
        )
        return lut[px[:, :, 0]]
    if spp == 2:
        # gray + alpha (ExtraSamples=1): drop the alpha sample and keep the
        # HxWx3 contract by repeating the gray channel — px[:, :, :3] would
        # leak a 2-channel array downstream
        gray = px[:, :, :1]
        if photometric == 0:  # WhiteIsZero
            gray = 255 - gray
        return np.repeat(gray, 3, axis=2)
    if photometric == 0:  # WhiteIsZero
        px = 255 - px
    if spp == 1:
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3].copy()
