"""Image decoding with no codec library: baseline + progressive JPEG and
GIF (PNG/BMP live in operators/multimodal.py next to the header sniffing).

JPEG scope: baseline sequential DCT (SOF0) and progressive DCT (SOF2 —
spectral selection + successive approximation, DC/AC first and refinement
scans, per-scan Huffman table redefinition, EOB runs), 8-bit, grayscale /
4:4:4 / 4:2:0 / 4:2:2 chroma subsampling, optional restart markers.
Arithmetic coding and 12-bit depth raise NotImplementedError — callers
fall back to the declared codec stub path. GIF scope: 87a/89a first frame,
global/local palettes, interlace, LZW with table resets.

Reference context: the reference opens images with PIL for OCR input and
metadata (app.py:94-119, metadata_extractor.py:148-207). This sandbox has
no PIL/libjpeg, but JPEG needs none: entropy decode is a Huffman bit
reader, progressive scans are coefficient accumulation per ITU T.81 §G.2,
and the 8×8 inverse DCT is one batched numpy basis multiply.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Any

import numpy as np

ZIGZAG = np.array(
    [
         0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# 8x8 DCT-III basis (orthonormal): block = A.T @ coeffs @ A
_K = np.arange(8)
_A = np.sqrt(2.0 / 8.0) * np.cos((2 * _K[None, :] + 1) * _K[:, None] * np.pi / 16.0)
_A[0] *= 1.0 / np.sqrt(2.0)


class _Huffman:
    """Canonical JPEG Huffman table: (length, code) → symbol."""

    def __init__(self, counts: bytes, symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        b = self.data[self.pos]
        v = (b >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return v

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: _Huffman) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _extend(value: int, magnitude: int) -> int:
    if magnitude == 0:
        return 0
    if value < (1 << (magnitude - 1)):
        return value - (1 << magnitude) + 1
    return value


def _maybe_restart(reader: _BitReader, mcu_count: int, restart_interval: int) -> bool:
    """At a restart boundary: byte-align, skip the RSTn sentinel, signal reset."""
    if not (restart_interval and mcu_count and mcu_count % restart_interval == 0):
        return False
    reader.align()
    if (
        reader.pos + 1 < len(reader.data)
        and reader.data[reader.pos] == 0xFF
        and 0xD0 <= reader.data[reader.pos + 1] <= 0xD7
    ):
        reader.pos += 2
    return True


def _decode_baseline_scan(reader, comps, comp_idx, scan_map, huff, coef, mcux, mcuy, restart_interval):
    """Interleaved DC+AC sequential scan (SOF0) → zigzag coefficients."""
    pred = {ci: 0 for ci in comp_idx}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if _maybe_restart(reader, mcu_count, restart_interval):
                pred = {ci: 0 for ci in comp_idx}
            for si, ci in enumerate(comp_idx):
                comp = comps[ci]
                dc_tab = huff[(0, scan_map[si][0])]
                ac_tab = huff[(1, scan_map[si][1])]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = coef[ci][my * comp["v"] + by, mx * comp["h"] + bx]
                        mag = reader.decode(dc_tab)
                        diff = _extend(reader.read_bits(mag), mag)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode(ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                break
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
            mcu_count += 1


def _decode_dc_scan(reader, comps, comp_idx, scan_map, huff, coef, mcux, mcuy, restart_interval, ah, al, true_blocks):
    """Progressive DC scan (Ss=0): first pass (Ah=0) or refinement bit."""
    pred = {ci: 0 for ci in comp_idx}
    if len(comp_idx) > 1:  # interleaved over the MCU grid
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if _maybe_restart(reader, mcu_count, restart_interval):
                    pred = {ci: 0 for ci in comp_idx}
                for si, ci in enumerate(comp_idx):
                    comp = comps[ci]
                    dc_tab = huff.get((0, scan_map[si][0]))
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            zz = coef[ci][my * comp["v"] + by, mx * comp["h"] + bx]
                            if ah == 0:
                                mag = reader.decode(dc_tab)
                                pred[ci] += _extend(reader.read_bits(mag), mag)
                                zz[0] = pred[ci] << al
                            elif reader.read_bit():
                                zz[0] |= 1 << al
                mcu_count += 1
    else:  # non-interleaved: MCU = one block of the single component
        ci = comp_idx[0]
        dc_tab = huff.get((0, scan_map[0][0]))
        rows, cols = true_blocks[ci]
        count = 0
        for by in range(rows):
            for bx in range(cols):
                if _maybe_restart(reader, count, restart_interval):
                    pred = {ci: 0}
                zz = coef[ci][by, bx]
                if ah == 0:
                    mag = reader.decode(dc_tab)
                    pred[ci] += _extend(reader.read_bits(mag), mag)
                    zz[0] = pred[ci] << al
                elif reader.read_bit():
                    zz[0] |= 1 << al
                count += 1


def _decode_ac_scan(reader, scan_map, huff, coef_c, ss, se, ah, al, rows, cols, restart_interval):
    """Progressive AC scan (single component) per T.81 §G.2 — spectral band
    [Ss, Se], first pass (Ah=0) with EOB runs, or refinement (Ah>0) with
    correction bits (the libjpeg decode_mcu_AC_refine control flow)."""
    ac_tab = huff[(1, scan_map[0][1])]
    eobrun = 0
    p1 = 1 << al
    m1 = -1 << al
    count = 0
    for by in range(rows):
        for bx in range(cols):
            if _maybe_restart(reader, count, restart_interval):
                eobrun = 0
            count += 1
            zz = coef_c[by, bx]
            if ah == 0:  # first pass for this band
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = reader.decode(ac_tab)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        break
                    zz[k] = _extend(reader.read_bits(s), s) << al
                    k += 1
                continue
            # refinement pass
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.decode(ac_tab)
                    r, s = rs >> 4, rs & 0xF
                    newval = 0
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        # r == 15: skip over 16 zero-history coefficients
                    else:  # s == 1: a coefficient newly becomes ±1<<Al
                        newval = p1 if reader.read_bit() else m1
                    while k <= se:
                        cur = int(zz[k])
                        if cur != 0:
                            if reader.read_bit() and (cur & p1) == 0:
                                zz[k] = cur + (p1 if cur >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        zz[k] = newval
                    k += 1
            if eobrun:
                # EOB region: correction bits for remaining nonzero coeffs
                while k <= se:
                    cur = int(zz[k])
                    if cur != 0 and reader.read_bit() and (cur & p1) == 0:
                        zz[k] = cur + (p1 if cur >= 0 else m1)
                    k += 1
                eobrun -= 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes (baseline SOF0 or progressive SOF2) → HxWx3 uint8 RGB."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _Huffman] = {}  # (class, id)
    comps: list[dict[str, Any]] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    coef: list[np.ndarray] | None = None  # per comp (by, bx, 64) zigzag int32
    true_blocks: list[tuple[int, int]] = []  # per comp (rows, cols) of real blocks
    mcux = mcuy = 0
    got_scan = False
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8).astype(np.int32)
                j += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError("non-8-bit precision")
            height, width = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            coef = [
                np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32) for c in comps
            ]
            true_blocks = [
                (
                    (-(-height * c["v"] // vmax) + 7) // 8,
                    (-(-width * c["h"] // hmax) + 7) // 8,
                )
                for c in comps
            ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"unsupported SOF marker 0xFF{marker:02X}")
        elif marker == 0xC4:  # DHT (may be redefined between progressive scans)
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                counts = seg[j + 1 : j + 17]
                total = sum(counts)
                symbols = seg[j + 17 : j + 17 + total]
                huff[(tc, th)] = _Huffman(counts, symbols)
                j += 17 + total
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — decode this scan in place, then continue
            if coef is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            cid_to_idx = {c["id"]: idx for idx, c in enumerate(comps)}
            comp_idx: list[int] = []
            scan_map: list[tuple[int, int]] = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c : 3 + 2 * c]
                comp_idx.append(cid_to_idx[cs])
                scan_map.append((tables >> 4, tables & 0xF))
            ss, se, ahl = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0xF
            # entropy data runs to the next non-RST marker; unstuff FF00
            j = i + 2 + seg_len
            raw = bytearray()
            while j < n - 1:
                b = payload[j]
                if b == 0xFF:
                    nxt = payload[j + 1]
                    if nxt == 0x00:
                        raw.append(0xFF)
                        j += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # restart marker: keep a sentinel
                        raw.append(0xFF)
                        raw.append(nxt)
                        j += 2
                        continue
                    break  # next real marker
                raw.append(b)
                j += 1
            reader = _BitReader(bytes(raw))
            if not progressive:
                if len(comp_idx) != len(comps):
                    # baseline with per-component (non-interleaved) scans is
                    # legal per T.81 §B.2.3 but _decode_baseline_scan walks
                    # the interleaved MCU grid — route to the codec-stub
                    # fallback instead of decoding garbage
                    raise NotImplementedError(
                        "baseline JPEG with non-interleaved scans not supported"
                    )
                _decode_baseline_scan(
                    reader, comps, comp_idx, scan_map, huff, coef, mcux, mcuy, restart_interval
                )
            elif ss == 0:
                _decode_dc_scan(
                    reader, comps, comp_idx, scan_map, huff, coef,
                    mcux, mcuy, restart_interval, ah, al, true_blocks,
                )
            else:
                ci = comp_idx[0]
                rows, cols = true_blocks[ci]
                _decode_ac_scan(
                    reader, scan_map, huff, coef[ci], ss, se, ah, al, rows, cols, restart_interval
                )
            got_scan = True
            i = j
            continue
        i += 2 + seg_len
    if not got_scan or coef is None:
        raise ValueError("no scan data")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)

    # dequantize + batched inverse DCT per component
    inv_zigzag = np.argsort(ZIGZAG)
    full = []
    for ci, comp in enumerate(comps):
        by, bx, _ = coef[ci].shape
        dq = (coef[ci].reshape(-1, 64) * qt[comp["tq"]][None, :]).astype(np.float64)
        blocks = dq[:, inv_zigzag].reshape(-1, 8, 8)
        spatial = np.einsum("ij,njk,kl->nil", _A.T, blocks, _A)
        plane = (
            spatial.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // comp["v"], axis=0), hmax // comp["h"], axis=1)
        full.append(plane[:height, :width] + 128.0)

    if len(full) == 1:
        gray = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF87a/89a → HxWx3 uint8 RGB, pure-Python LZW.

    Global/local color tables, interlaced images, and sub-block framing are
    handled; animation beyond the first image descriptor is ignored (the
    multimodal contract treats video-ish payloads via frame_sample)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width, height = struct.unpack("<HH", payload[6:10])
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, dtype=np.uint8, count=3 * size, offset=pos).reshape(size, 3)
        pos += 3 * size
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            ix, iy, iw, ih = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
            iflags = payload[pos + 9]
            pos += 10
            table = gct
            if iflags & 0x80:
                size = 2 << (iflags & 0x07)
                table = np.frombuffer(
                    payload, dtype=np.uint8, count=3 * size, offset=pos
                ).reshape(size, 3)
                pos += 3 * size
            if table is None:
                raise ValueError("GIF image without a color table")
            min_code_size = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            indices = _lzw_decode(bytes(data), min_code_size, iw * ih)
            idx = np.asarray(indices, dtype=np.int32).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: 4-pass row shuffle
                order = (
                    list(range(0, ih, 8)) + list(range(4, ih, 8))
                    + list(range(2, ih, 4)) + list(range(1, ih, 2))
                )
                de = np.empty_like(idx)
                de[order] = idx[: len(order)]
                idx = de
            rgb = table[np.clip(idx, 0, len(table) - 1)]
            # compose onto the logical screen (descriptor offset)
            canvas = np.zeros((height, width, 3), dtype=np.uint8)
            canvas[iy : iy + ih, ix : ix + iw] = rgb[: height - iy, : width - ix]
            return canvas
        elif b == 0x3B:  # trailer
            break
        else:
            pos += 1
    raise ValueError("GIF contains no image data")


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size and len(out) < max_pixels:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = [(i,) for i in range(clear)] + [(), ()]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if code < len(table) and code != end:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + (prev[0],)
            else:
                raise ValueError("corrupt LZW stream")
            out.extend(entry)
            if prev is not None:
                table.append(prev + (entry[0],))
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return out


# --- TIFF ------------------------------------------------------------------
# Baseline TIFF 6.0 subset (the formats a CC media pass actually serves):
# single-plane strips, 8-bit samples, gray / RGB(A) / palette photometrics,
# compressions None / LZW / Deflate / PackBits, horizontal predictor.
# Tiled TIFF, planar configuration 2, and non-8-bit depths raise
# NotImplementedError (declared codec boundaries, like the JPEG stubs).
# Reference context: PIL accepts TIFF wherever images are opened
# (metadata_extractor.py:148-207). ``ifd_entries`` is the one IFD walker:
# the EXIF reader (operators/multimodal.py:parse_exif) stringifies what it
# yields, the decoder below keeps raw number tuples.

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
    """IFD0 → {tag: tuple(values)} for SHORT/LONG/BYTE types (raw numbers,
    not the stringified EXIF view)."""
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
    """Baseline TIFF → HxWx3 uint8. See module-tail comment for scope."""
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
