"""Baseline JPEG decoder (functions/imagedec.py) round-trip tests.

The fixture encoder below is an independent pure-Python baseline JPEG
writer (standard ITU T.81 Annex K Huffman tables, JFIF YCbCr, 4:4:4 and
grayscale, optional restart markers). Lossy round-trip → PSNR tolerance,
plus exactness on a DC-only (flat) image.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from smoldocling_ocr_spark.functions.imagedec import _A, ZIGZAG, decode_jpeg

# --- encoder Huffman specs: (counts[16], symbols) --------------------------
# Custom but fully spec-valid tables (decoders must read them from DHT —
# which is exactly what's under test): all 12 DC categories at code length
# 4, and all 162 AC (run,size) symbols at code length 8. Canonical codes
# stay below the all-ones code in both cases, as T.81 requires.

DC_LUM = (
    bytes([0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]),
    bytes(range(12)),
)
DC_CHR = DC_LUM
_AC_SYMBOLS = bytes(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
AC_LUM = (
    bytes([0, 0, 0, 0, 0, 0, 0, len(_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0]),
    _AC_SYMBOLS,
)
AC_CHR = AC_LUM

QTAB = np.full(64, 8, dtype=np.int32)
QTAB[0] = 4


def _codes(counts: bytes, symbols: bytes) -> dict[int, tuple[int, int]]:
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)


def _category(v: int) -> tuple[int, int]:
    s = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


def _encode_block(
    bw: _BitWriter, block: np.ndarray, pred: int, dc: dict, ac: dict
) -> int:
    coeffs = _A @ (block - 128.0) @ _A.T
    zz = np.round(coeffs.reshape(-1)[ZIGZAG] / QTAB).astype(int)
    s, bits = _category(int(zz[0]) - pred)
    l, c = dc[s]
    bw.write(c, l)
    if s:
        bw.write(bits, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            l, c = ac[0xF0]
            bw.write(c, l)
            run -= 16
        s, bits = _category(v)
        l, c = ac[(run << 4) | s]
        bw.write(c, l)
        bw.write(bits, s)
        run = 0
    if run:
        l, c = ac[0x00]
        bw.write(c, l)
    return int(zz[0])


def encode_jpeg(px: np.ndarray, restart: int = 0, subsample: bool = False) -> bytes:
    """Baseline encoder: grayscale (2-D input), 4:4:4, or 4:2:0 (subsample)."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    mcu_px = 16 if subsample and not gray else 8
    ph = (h + mcu_px - 1) // mcu_px * mcu_px
    pw = (w + mcu_px - 1) // mcu_px * mcu_px
    if gray:
        planes = [np.pad(px.astype(np.float64), ((0, ph - h), (0, pw - w)), mode="edge")]
        factors = [(1, 1)]
    else:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in (y, cb, cr)]
        if subsample:
            planes = [planes[0]] + [
                p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)) for p in planes[1:]
            ]
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            factors = [(1, 1)] * 3

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(int(v) for v in QTAB))  # QTAB is zigzag-ordered
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for cid in range(1, nc + 1):
        fh, fv = factors[cid - 1]
        sof += bytes([cid, (fh << 4) | fv, 0])
    seg(0xC0, sof)
    for tc_th, (counts, symbols) in (
        ((0, 0), DC_LUM), ((1, 0), AC_LUM), ((0, 1), DC_CHR), ((1, 1), AC_CHR),
    )[: 2 if gray else 4]:
        seg(0xC4, bytes([(tc_th[0] << 4) | tc_th[1]]) + counts + symbols)
    if restart:
        seg(0xDD, struct.pack(">H", restart))
    sos = bytes([nc])
    for cid in range(1, nc + 1):
        tid = 0 if cid == 1 else 1
        sos += bytes([cid, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    dcs = [_codes(*DC_LUM), _codes(*DC_CHR)]
    acs = [_codes(*AC_LUM), _codes(*AC_CHR)]
    bw = _BitWriter()
    pred = [0] * nc
    mcu = 0
    rst = 0
    for by in range(ph // mcu_px):
        for bx in range(pw // mcu_px):
            if restart and mcu and mcu % restart == 0:
                bw.pad()
                out.extend(bw.out)
                bw = _BitWriter()
                out.extend(b"\xff" + bytes([0xD0 + (rst % 8)]))
                rst += 1
                pred = [0] * nc
            for ci in range(nc):
                tid = 0 if ci == 0 else 1
                fh, fv = factors[ci]
                for sy in range(fv):
                    for sx in range(fh):
                        y0 = (by * fv + sy) * 8
                        x0 = (bx * fh + sx) * 8
                        block = planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        pred[ci] = _encode_block(bw, block, pred[ci], dcs[tid], acs[tid])
            mcu += 1
    bw.pad()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_flat_image_exact():
    px = np.full((16, 24, 3), 200, dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(px))
    assert got.shape == (16, 24, 3)
    assert int(np.abs(got.astype(int) - 200).max()) <= 2  # rounding only


def test_gradient_roundtrip_psnr():
    yy, xx = np.mgrid[0:40, 0:56]
    px = np.stack(
        [(xx * 4) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=2
    ).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(px))
    assert got.shape == px.shape
    assert _psnr(px, got) > 28.0


def test_grayscale_and_restart_markers():
    rng = np.random.default_rng(5)
    smooth = rng.integers(0, 40, size=(24, 24)).astype(np.float64)
    gray = np.clip(smooth.cumsum(axis=1) % 220, 0, 255).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(gray))
    assert got.shape == (24, 24, 3)
    assert _psnr(np.repeat(gray[:, :, None], 3, axis=2), got) > 28.0

    px = np.repeat(gray[:, :, None], 3, axis=2)
    with_rst = encode_jpeg(px, restart=2)
    assert b"\xff\xd0" in with_rst or b"\xff\xd1" in with_rst
    got2 = decode_jpeg(with_rst)
    assert _psnr(px, got2) > 28.0


def test_420_subsampled_roundtrip():
    """4:2:0 chroma: the decoder's MCU interleave (2x2 luma blocks) and
    chroma upsample path. Luma detail survives; chroma is smooth by
    construction so subsampling loses little."""
    yy, xx = np.mgrid[0:48, 0:32]
    px = np.stack(
        [(xx * 6) % 256, np.full_like(xx, 120), (yy * 2) % 200], axis=2
    ).astype(np.uint8)
    data = encode_jpeg(px, subsample=True)
    got = decode_jpeg(data)
    assert got.shape == px.shape
    assert _psnr(px, got) > 26.0
    # odd dimensions exercise the crop after MCU padding
    odd = px[:41, :27]
    assert decode_jpeg(encode_jpeg(odd, subsample=True)).shape == (41, 27, 3)


def test_unsupported_sof_raises():
    # arithmetic-coded (SOF10) and lossless (SOF3) remain declared stubs
    for sof in (0xCA, 0xC3):
        bad = (
            b"\xff\xd8\xff" + bytes([sof]) + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        )
        with pytest.raises(NotImplementedError):
            decode_jpeg(bad)


def test_baseline_non_interleaved_scan_raises():
    """A baseline (SOF0) JPEG whose SOS selects fewer components than the
    frame declares (legal per T.81 §B.2.3) must route to the declared
    NotImplementedError fallback instead of walking the interleaved MCU
    grid into garbage pixels (ADVICE r3 #2)."""
    px = np.full((8, 8, 3), 90, dtype=np.uint8)
    data = bytearray(encode_jpeg(px))
    i = data.find(b"\xff\xda")
    assert i != -1
    seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
    ns = data[i + 4]
    assert ns == 3
    # keep only the first component pair: ns=1, drop 2 pairs, fix length
    first_pair = bytes(data[i + 5 : i + 7])
    tail = bytes(data[i + 5 + 2 * ns : i + 2 + seg_len])  # Ss Se AhAl
    new_seg = struct.pack(">H", 2 + 1 + 2 + len(tail)) + bytes([1]) + first_pair + tail
    patched = bytes(data[: i + 2]) + new_seg + bytes(data[i + 2 + seg_len :])
    with pytest.raises(NotImplementedError):
        decode_jpeg(patched)


def test_decode_image_routes_jpeg():
    from smoldocling_ocr_spark.operators.multimodal import decode_image

    px = np.full((8, 8, 3), 90, dtype=np.uint8)
    got = decode_image(encode_jpeg(px))
    assert got.shape == (8, 8, 3)
    assert int(np.abs(got.astype(int) - 90).max()) <= 2


# --- GIF -------------------------------------------------------------------


def _encode_gif(px: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal GIF89a writer: exact-palette, LZW with clear-code resets.
    Emits a clear code before every pixel code (valid, trivially correct
    LZW — the decoder must handle code-table resets and variable widths)."""
    h, w = px.shape[:2]
    colors = sorted({tuple(c) for row in px for c in row})
    assert len(colors) <= 128
    cbits = max(2, (len(colors) - 1).bit_length())
    palette = list(colors) + [(0, 0, 0)] * ((1 << cbits) - len(colors))
    cmap = {c: i for i, c in enumerate(colors)}
    idx = np.array([[cmap[tuple(c)] for c in row] for row in px], dtype=np.uint8)
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        idx = idx[order]

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (cbits - 1), 0, 0])
    for c in palette:
        out += bytes(c)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    min_code = cbits
    clear = 1 << min_code
    end = clear + 1
    acc = 0
    nbits = 0
    data = bytearray()

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for v in idx.reshape(-1):
        emit(clear, min_code + 1)
        emit(int(v), min_code + 1)
    emit(end, min_code + 1)
    if nbits:
        data.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_roundtrip_and_interlace():
    from smoldocling_ocr_spark.functions.imagedec import decode_gif

    rng = np.random.default_rng(9)
    palette = np.array([[250, 10, 10], [10, 250, 10], [10, 10, 250], [240, 240, 0]], dtype=np.uint8)
    px = palette[rng.integers(0, 4, size=(16, 11))]
    assert np.array_equal(decode_gif(_encode_gif(px)), px)
    assert np.array_equal(decode_gif(_encode_gif(px, interlace=True)), px)


def test_gif_via_decode_image():
    from smoldocling_ocr_spark.operators.multimodal import decode_image

    px = np.array([[[250, 10, 10], [10, 250, 10]]] * 4, dtype=np.uint8)
    got = decode_image(_encode_gif(px))
    assert np.array_equal(got, px)


_PROG_AC_SYMBOLS = bytes(
    [(r << 4) for r in range(16)] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
PROG_AC = (
    bytes([0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0]),
    _PROG_AC_SYMBOLS,
)


class _ProgScanWriter:
    """Per-scan entropy writer with EOB-run and correction-bit buffering."""

    def __init__(self, ac: dict):
        self.bw = _BitWriter()
        self.ac = ac
        self.eobrun = 0
        self.pending_bits: list[int] = []

    def sym(self, symbol: int) -> None:
        l, c = self.ac[symbol]
        self.bw.write(c, l)

    def flush_eobrun(self) -> None:
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending_bits:
            self.bw.write(b, 1)
        self.pending_bits = []

    def finish(self) -> bytes:
        self.flush_eobrun()
        self.bw.pad()
        return bytes(self.bw.out)


def _quantize_all(px: np.ndarray):
    """Pixels → per-component list of (rows, cols, zigzag int coeff blocks)."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    if gray:
        planes = [np.pad(px.astype(np.float64), ((0, ph - h), (0, pw - w)), mode="edge")]
    else:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in (y, cb, cr)]
    comps = []
    for p in planes:
        rows, cols = ph // 8, pw // 8
        zz = np.zeros((rows, cols, 64), dtype=np.int64)
        for by in range(rows):
            for bx in range(cols):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coeffs = _A @ (block - 128.0) @ _A.T
                zz[by, bx] = np.round(coeffs.reshape(-1)[ZIGZAG] / QTAB).astype(np.int64)
        comps.append(zz)
    return comps


def encode_jpeg_progressive(px: np.ndarray) -> bytes:
    """Progressive (SOF2) encoder, 4:4:4 or grayscale, scan script:
    DC first (Al=1) → per-component AC first bands 1-5 / 6-63 (Al=2) →
    AC refinements Al 2→1 and 1→0 per band → DC refinement (Al=0)."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    nc = 1 if gray else 3
    comps = _quantize_all(px)
    rows, cols = comps[0].shape[:2]

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(int(v) for v in QTAB))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for cid in range(1, nc + 1):
        sof += bytes([cid, 0x11, 0])
    seg(0xC2, sof)
    seg(0xC4, bytes([0x00]) + DC_LUM[0] + DC_LUM[1])
    seg(0xC4, bytes([0x10]) + PROG_AC[0] + PROG_AC[1])
    dc_codes = _codes(*DC_LUM)
    ac_codes = _codes(*PROG_AC)

    def sos_header(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, body)

    # --- DC first (interleaved, Al=1) ---
    sos_header(list(range(1, nc + 1)), 0, 0, 0, 1)
    bw = _BitWriter()
    pred = [0] * nc
    for by in range(rows):
        for bx in range(cols):
            for ci in range(nc):
                dc = int(comps[ci][by, bx, 0]) >> 1
                s, bits = _category(dc - pred[ci])
                l, c = dc_codes[s]
                bw.write(c, l)
                if s:
                    bw.write(bits, s)
                pred[ci] = dc
    bw.pad()
    out.extend(bw.out)

    # --- AC scans per component ---
    bands = [(1, 5), (6, 63)]
    for ci in range(nc):
        for ss, se in bands:  # first pass at Al=2
            sw = _ProgScanWriter(ac_codes)
            for by in range(rows):
                for bx in range(cols):
                    zz = comps[ci][by, bx]
                    run = 0
                    wrote = False
                    for k in range(ss, se + 1):
                        t = int(zz[k])
                        neg = t < 0
                        t = (-t if neg else t) >> 2
                        if t == 0:
                            run += 1
                            continue
                        sw.flush_eobrun()
                        while run > 15:
                            sw.sym(0xF0)
                            run -= 16
                        s = t.bit_length()
                        sw.sym((run << 4) | s)
                        bits = (~t if neg else t) & ((1 << s) - 1)
                        sw.bw.write(bits, s)
                        run = 0
                        wrote = True
                    if run or not wrote:
                        sw.eobrun += 1
                        if sw.eobrun == 0x7FFF:
                            sw.flush_eobrun()
            sos_header([ci + 1], ss, se, 0, 2)
            out.extend(sw.finish())
    for ah in (2, 1):  # refinement passes Al: 2->1, 1->0
        al = ah - 1
        for ci in range(nc):
            for ss, se in bands:
                sw = _ProgScanWriter(ac_codes)
                for by in range(rows):
                    for bx in range(cols):
                        zz = comps[ci][by, bx]
                        absval = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
                        # index of the LAST coefficient newly nonzero this
                        # pass (libjpeg's EOB); ZRLs are emitted only within
                        # this span — beyond it they fold into the EOB run
                        eob_idx = -1
                        for idx, t in enumerate(absval):
                            if t == 1:
                                eob_idx = idx
                        run = 0
                        br: list[int] = []
                        for idx, t in enumerate(absval):
                            if t == 0:
                                run += 1
                                continue
                            # libjpeg jcphuff.c: the ZRL check runs at EVERY
                            # nonzero (corrections included) so buffered
                            # correction bits flush inside the right span
                            while run > 15 and idx <= eob_idx:
                                sw.flush_eobrun()
                                sw.sym(0xF0)
                                run -= 16
                                for b in br:
                                    sw.bw.write(b, 1)
                                br = []
                            if t > 1:  # already nonzero: correction bit
                                br.append(t & 1)
                                continue
                            # t == 1: newly nonzero coefficient
                            sw.flush_eobrun()
                            sw.sym((run << 4) | 1)
                            sw.bw.write(0 if int(zz[ss + idx]) < 0 else 1, 1)
                            for b in br:
                                sw.bw.write(b, 1)
                            br = []
                            run = 0
                        if run or br:
                            sw.eobrun += 1
                            sw.pending_bits.extend(br)
                            if sw.eobrun == 0x7FFF:
                                sw.flush_eobrun()
                sos_header([ci + 1], ss, se, ah, al)
                out.extend(sw.finish())

    # --- DC refinement (interleaved, Ah=1, Al=0) ---
    sos_header(list(range(1, nc + 1)), 0, 0, 1, 0)
    bw = _BitWriter()
    for by in range(rows):
        for bx in range(cols):
            for ci in range(nc):
                bw.write(int(comps[ci][by, bx, 0]) & 1, 1)
    bw.pad()
    out.extend(bw.out)

    out.extend(b"\xff\xd9")
    return bytes(out)


def test_progressive_matches_baseline_exactly():
    """Progressive decode must reconstruct the SAME quantized coefficients
    as the sequential scan of the same image — successive approximation is
    lossless once all passes land — so the decoded pixels are bit-identical
    to the baseline decode."""
    yy, xx = np.mgrid[0:24, 0:40]
    px = np.stack(
        [(xx * 7) % 256, (yy * 5 + xx) % 256, ((xx * yy) // 3) % 256], axis=2
    ).astype(np.uint8)
    prog = encode_jpeg_progressive(px)
    base = encode_jpeg(px)
    assert b"\xff\xc2" in prog  # really SOF2
    got_prog = decode_jpeg(prog)
    got_base = decode_jpeg(base)
    assert got_prog.shape == px.shape
    assert np.array_equal(got_prog, got_base)
    assert _psnr(px, got_prog) > 28.0


def test_progressive_grayscale_and_sparse():
    """Grayscale progressive + a sparse image exercising long EOB runs and
    ZRL paths in both encoder and decoder."""
    rng = np.random.default_rng(11)
    gray = np.zeros((40, 40), dtype=np.uint8)
    gray[13, 29] = 255  # one spike -> long zero runs, many EOB-run blocks
    gray[30:33, 5:9] = 180
    got = decode_jpeg(encode_jpeg_progressive(gray))
    base = decode_jpeg(encode_jpeg(gray))
    assert np.array_equal(got, base)

    noisy = rng.integers(0, 256, size=(17, 23)).astype(np.uint8)  # odd dims
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(noisy)), decode_jpeg(encode_jpeg(noisy))
    )


def test_progressive_via_decode_image():
    from smoldocling_ocr_spark.operators.multimodal import decode_image, sniff_media

    px = np.full((8, 8, 3), 77, dtype=np.uint8)
    data = encode_jpeg_progressive(px)
    assert sniff_media(data)[0] == "jpeg"
    got = decode_image(data)
    assert got.shape == (8, 8, 3)
    assert int(np.abs(got.astype(int) - 77).max()) <= 2
