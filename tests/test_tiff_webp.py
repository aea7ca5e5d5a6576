"""TIFF + WebP-lossless decoders (VERDICT r3 task 4).

Fixtures are hand-built encoders: a TIFF writer covering every supported
compression (None/LZW/Deflate/PackBits) and photometric, and VP8L streams
built with the package's own bit-writer — the minimal encoder for literal
round-trips plus handcrafted streams for the features the encoder doesn't
emit (LZ77 refs, color cache, transforms, meta groups)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from smoldocling_ocr_spark.functions.imagedec import decode_tiff
from smoldocling_ocr_spark.functions.vp8l import (
    _BitWriter,
    _DIST_MAP,
    _balanced_lengths,
    _emit_prefix_code,
    decode_vp8l,
    decode_webp,
    encode_webp_lossless,
)


# --- TIFF fixture encoder ---------------------------------------------------


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first, 9→12 bits with early change, reset at
    table ceiling."""
    out_bits: list[tuple[int, int]] = []
    CLEAR, EOI = 256, 257

    def reset():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = reset()
    out_bits.append((CLEAR, width))
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        out_bits.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        w = bytes([ch])
        if next_code >= 4093:
            out_bits.append((CLEAR, width))
            table, next_code, width = reset()
    if w:
        out_bits.append((table[w], width))
    out_bits.append((EOI, width))
    acc = nbits = 0
    out = bytearray()
    for code, cw in out_bits:
        acc = (acc << cw) | code
        nbits += cw
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    # naive: emit literal runs of <=128
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def make_tiff(
    px: np.ndarray,
    compression: int = 1,
    photometric: int | None = None,
    predictor: int = 1,
    byte_order: str = "<",
    rows_per_strip: int | None = None,
    colormap: np.ndarray | None = None,
) -> bytes:
    """Hand-built classic TIFF: header, pixel strips, IFD0 at the end."""
    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else px.shape[2]
    if photometric is None:
        photometric = 2 if spp >= 3 else 1
    rows_per_strip = rows_per_strip or h
    flat = px.reshape(h, w * spp)
    strips = []
    for y0 in range(0, h, rows_per_strip):
        rows = flat[y0 : y0 + rows_per_strip]
        if predictor == 2:
            arr = rows.reshape(rows.shape[0], w, spp).astype(np.int16)
            diff = arr.copy()
            diff[:, 1:] = arr[:, 1:] - arr[:, :-1]
            raw = (diff & 0xFF).astype(np.uint8).tobytes()
        else:
            raw = rows.tobytes()
        if compression == 1:
            strips.append(raw)
        elif compression == 5:
            strips.append(tiff_lzw_encode(raw))
        elif compression == 8:
            strips.append(zlib.compress(raw))
        elif compression == 32773:
            strips.append(packbits_encode(raw))
        else:
            strips.append(raw)
    bo = byte_order
    out = bytearray()
    out += (b"II*\x00" if bo == "<" else b"MM\x00*") + b"\x00" * 4
    strip_offsets = []
    for s in strips:
        strip_offsets.append(len(out))
        out += s
    if len(out) % 2:
        out += b"\x00"
    entries = []

    extra = bytearray()
    extra_base_marker: list[tuple[int, int]] = []  # (pos in entries, offset in extra)

    def add(tag, typ, values):
        sizes = {3: 2, 4: 4}
        fmts = {3: "H", 4: "I"}
        size = sizes[typ] * len(values)
        if size <= 4:
            packed = struct.pack(bo + fmts[typ] * len(values), *values).ljust(4, b"\x00")
            entries.append(struct.pack(bo + "HHI", tag, typ, len(values)) + packed)
        else:
            entries.append(struct.pack(bo + "HHI", tag, typ, len(values)))
            extra_base_marker.append((len(entries) - 1, len(extra)))
            extra.extend(struct.pack(bo + fmts[typ] * len(values), *values))

    add(256, 3, [w])
    add(257, 3, [h])
    add(258, 3, [8] * spp)
    add(259, 3, [compression])
    add(262, 3, [photometric])
    add(273, 4, strip_offsets)
    add(277, 3, [spp])
    add(278, 3, [rows_per_strip])
    add(279, 4, [len(s) for s in strips])
    if predictor != 1:
        add(317, 3, [predictor])
    if colormap is not None:
        add(320, 3, list(int(v) for v in colormap.ravel()))
    ifd_offset = len(out)
    n = len(entries)
    extra_start = ifd_offset + 2 + 12 * n + 4
    fixed = []
    marker = dict(extra_base_marker)
    for i, e in enumerate(entries):
        if i in marker:
            e = e + struct.pack(bo + "I", extra_start + marker[i])
        fixed.append(e)
    out += struct.pack(bo + "H", n) + b"".join(fixed) + struct.pack(bo + "I", 0)
    out += extra
    struct.pack_into(bo + "I", out, 4, ifd_offset)
    return bytes(out)


RNG = np.random.default_rng(11)


@pytest.mark.parametrize("compression", [1, 5, 8, 32773])
def test_tiff_rgb_roundtrip_all_compressions(compression):
    px = RNG.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    got = decode_tiff(make_tiff(px, compression=compression))
    assert np.array_equal(got, px)


def test_tiff_big_endian_and_multistrip():
    px = RNG.integers(0, 256, (20, 9, 3), dtype=np.uint8)
    got = decode_tiff(make_tiff(px, byte_order=">", rows_per_strip=6))
    assert np.array_equal(got, px)


def test_tiff_lzw_with_horizontal_predictor():
    px = RNG.integers(0, 256, (11, 23, 3), dtype=np.uint8)
    got = decode_tiff(make_tiff(px, compression=5, predictor=2))
    assert np.array_equal(got, px)


def test_tiff_gray_and_whitezero():
    g = RNG.integers(0, 256, (7, 5), dtype=np.uint8)
    got = decode_tiff(make_tiff(g, photometric=1))
    assert np.array_equal(got, np.repeat(g[:, :, None], 3, axis=2))
    inv = decode_tiff(make_tiff(g, photometric=0))
    assert np.array_equal(inv, np.repeat((255 - g)[:, :, None], 3, axis=2))


def test_tiff_palette():
    idx = RNG.integers(0, 4, (6, 8), dtype=np.uint8)
    cmap = np.zeros((3, 256), dtype=np.uint16)
    lut8 = np.array([[250, 10, 30], [5, 200, 40], [9, 8, 7], [100, 110, 120]], dtype=np.uint16)
    cmap[:, :4] = (lut8.T << 8) | 0xFF  # high byte carries the 8-bit color
    got = decode_tiff(make_tiff(idx, photometric=3, colormap=cmap))
    assert np.array_equal(got, lut8[idx].astype(np.uint8))


def test_tiff_declared_boundaries():
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    base = make_tiff(px)
    # 16-bit samples: patch the BitsPerSample values (8,8,8) → (16,16,16)
    assert base.count(b"\x08\x00\x08\x00\x08\x00") == 1
    deep = base.replace(b"\x08\x00\x08\x00\x08\x00", b"\x10\x00\x10\x00\x10\x00")
    with pytest.raises(NotImplementedError):
        decode_tiff(deep)
    # unsupported compression id
    with pytest.raises(NotImplementedError):
        decode_tiff(make_tiff(px, compression=7))


def test_tiff_lzw_long_stream_resets():
    # > 4093 dictionary entries forces an encoder reset mid-stream
    px = RNG.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    got = decode_tiff(make_tiff(px, compression=5))
    assert np.array_equal(got, px)


# --- WebP / VP8L ------------------------------------------------------------


def test_webp_roundtrip_constant_and_random():
    for px in (
        np.full((5, 7, 3), 200, dtype=np.uint8),
        RNG.integers(0, 256, (19, 13, 3), dtype=np.uint8),
    ):
        got = decode_webp(encode_webp_lossless(px))
        assert np.array_equal(got, px)


def test_webp_roundtrip_two_color():
    px = np.where(RNG.random((9, 11, 1)) < 0.5, 17, 213).astype(np.uint8)
    px = np.repeat(px, 3, axis=2)
    got = decode_webp(encode_webp_lossless(px))
    assert np.array_equal(got, px)


def _vp8l_header(bw: _BitWriter, w: int, h: int) -> None:
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _emit_plain_codes(bw, greens, reds, blues, cache_size=0, extra_green=()):
    """Emit the 5 prefix codes for one group given used literal symbols."""
    maps = []
    g_syms = sorted(set(greens) | set(extra_green))
    maps.append(_emit_prefix_code(bw, _balanced_lengths(g_syms, 256 + 24 + cache_size), g_syms))
    for syms in (sorted(set(reds)), sorted(set(blues)), [255]):
        maps.append(_emit_prefix_code(bw, _balanced_lengths(syms, 256), syms))
    maps.append(_emit_prefix_code(bw, _balanced_lengths([0, 1], 40), [0, 1]))
    return maps


def test_vp8l_lz77_backward_reference():
    """Literal row, then a copy via the 2D distance map ((0,1) → dist = w)
    and a copy via a raw >120 distance code — both length-3."""
    w, h = 6, 2
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(0, 1)  # no transform
    bw.write(0, 1)  # no meta
    bw.write(0, 1)  # no cache
    greens = [10, 20, 30, 40, 50, 60]
    # distance alphabet: prefix code 0 (value 1 → plane (0,1) → dist 6) and
    # prefix code 13 (extra 5 bits, offset 96: values 97..128; 126 = 96+29+1
    # → plane code 126 → raw dist 126-120 = 6)
    maps = []
    g_syms = sorted(set(greens) | {256 + 2})  # length prefix 2 → value 3
    maps.append(_emit_prefix_code(bw, _balanced_lengths(g_syms, 256 + 24), g_syms))
    for syms, alphabet in (([7], 256), ([9], 256), ([255], 256), ([0, 13], 40)):
        maps.append(_emit_prefix_code(bw, _balanced_lengths(syms, alphabet), syms))
    g, r, b, a, d = maps
    for gv in greens:  # row 0: six literals
        bw.write_code(g[gv][0], g[gv][1])
        bw.write_code(r[7][0], r[7][1])
        bw.write_code(b[9][0], b[9][1])
        bw.write_code(a[255][0], a[255][1])
    sym = 256 + 2
    bw.write_code(g[sym][0], g[sym][1])  # copy length 3
    bw.write_code(d[0][0], d[0][1])  # dist prefix 0 → plane (0,1) → 6
    bw.write_code(g[sym][0], g[sym][1])  # copy length 3
    bw.write_code(d[13][0], d[13][1])  # dist prefix 13 → 96 + extra + 1
    bw.write(29, 5)  # extra bits → dist_code 126 → raw dist 6
    got = decode_vp8l(b"\x2f" + bw.tobytes())
    assert got.shape == (2, 6, 3)
    assert list(got[1, :, 1]) == greens  # copied row equals row 0
    assert np.all(got[:, :, 0] == 7) and np.all(got[:, :, 2] == 9)


def test_vp8l_color_cache():
    """Two literals then cache hits: green alphabet extends by cache size
    and cache indices reproduce earlier pixels."""
    w, h = 4, 1
    cache_bits = 2
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(0, 1)  # no transform
    bw.write(0, 1)  # no meta
    bw.write(1, 1)  # cache on
    bw.write(cache_bits, 4)
    cache_size = 1 << cache_bits
    px1 = (255 << 24) | (1 << 16) | (2 << 8) | 3
    px2 = (255 << 24) | (40 << 16) | (50 << 8) | 60
    idx1 = ((0x1E35A7BD * px1) & 0xFFFFFFFF) >> (32 - cache_bits)
    idx2 = ((0x1E35A7BD * px2) & 0xFFFFFFFF) >> (32 - cache_bits)
    assert idx1 != idx2  # fixture sanity
    g, r, b, a, d = _emit_plain_codes(
        bw, [2, 50], [1, 40], [3, 60],
        cache_size=cache_size, extra_green=[280 + idx1, 280 + idx2],
    )
    for gv, rv, bv in ((2, 1, 3), (50, 40, 60)):
        bw.write_code(g[gv][0], g[gv][1])
        bw.write_code(r[rv][0], r[rv][1])
        bw.write_code(b[bv][0], b[bv][1])
        bw.write_code(a[255][0], a[255][1])
    bw.write_code(g[280 + idx1][0], g[280 + idx1][1])
    bw.write_code(g[280 + idx2][0], g[280 + idx2][1])
    got = decode_vp8l(b"\x2f" + bw.tobytes())
    assert [tuple(p) for p in got[0]] == [(1, 2, 3), (40, 50, 60), (1, 2, 3), (40, 50, 60)]


def test_vp8l_subtract_green_transform():
    w, h = 3, 1
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(1, 1)  # transform present
    bw.write(2, 2)  # subtract green
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no meta
    bw.write(0, 1)  # no cache
    # true pixels (r,g,b): (100, 40, 60) → stored r-g=60, b-g=20
    g, r, b, a, d = _emit_plain_codes(bw, [40], [60], [20])
    for _ in range(3):
        bw.write_code(g[40][0], g[40][1])
        bw.write_code(r[60][0], r[60][1])
        bw.write_code(b[20][0], b[20][1])
        bw.write_code(a[255][0], a[255][1])
    got = decode_vp8l(b"\x2f" + bw.tobytes())
    assert [tuple(p) for p in got[0]] == [(100, 40, 60)] * 3


def test_vp8l_predictor_transform_left_mode():
    """Predictor mode 1 (left): residual row decodes to a running sum."""
    w, h = 4, 1
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor transform
    bw.write(2, 3)  # size_bits = 4 → one tile
    # predictor sub-image: 1×1, mode 1 in GREEN channel — literal pixel
    bw.write(0, 1)  # sub-image: no color cache
    pg, pr, pb, pa, pd = _emit_plain_codes(bw, [1], [0], [0])
    bw.write_code(pg[1][0], pg[1][1])
    bw.write_code(pr[0][0], pr[0][1])
    bw.write_code(pb[0][0], pb[0][1])
    bw.write_code(pa[255][0], pa[255][1])
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no meta
    bw.write(0, 1)  # no cache
    # residuals: first pixel (predicted by BLACK 0xff000000): a_res adds 255
    # → alpha 255+255 & 0xff = 254?? use alpha residual 0 instead: fixture
    # greens: first 5, then +3 each (left prediction)
    g, r, b, a, d = _emit_plain_codes(bw, [5, 3], [2, 0], [1, 0])
    first = True
    for _ in range(4):
        if first:
            bw.write_code(g[5][0], g[5][1])
            bw.write_code(r[2][0], r[2][1])
            bw.write_code(b[1][0], b[1][1])
            bw.write_code(a[255][0], a[255][1])
            first = False
        else:
            bw.write_code(g[3][0], g[3][1])
            bw.write_code(r[0][0], r[0][1])
            bw.write_code(b[0][0], b[0][1])
            bw.write_code(a[255][0], a[255][1])
    got = decode_vp8l(b"\x2f" + bw.tobytes())
    assert list(got[0, :, 1]) == [5, 8, 11, 14]  # running sum of greens
    assert list(got[0, :, 0]) == [2, 2, 2, 2]
    assert list(got[0, :, 2]) == [1, 1, 1, 1]


def test_vp8l_palette_transform_with_bundling():
    """3-color palette → 2-bit indices, 4 pixels bundled per coded unit."""
    w, h = 6, 2
    palette = [(10, 20, 30), (40, 50, 60), (70, 80, 90)]
    idx = np.array([[0, 1, 2, 1, 0, 2], [2, 2, 1, 0, 1, 0]])
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)  # color indexing
    bw.write(2, 8)  # 3 colors - 1
    # palette image 3×1, delta-coded: first entry absolute, rest deltas
    deltas = []
    prev = (0, 0, 0, 0)
    for r_, g_, b_ in palette:
        cur = (255, r_, g_, b_)
        deltas.append(tuple((c - p) & 0xFF for c, p in zip(cur, prev)))
        prev = cur
    bw.write(0, 1)  # palette sub-image: no color cache
    pg, pr, pb, pa, pd = _emit_plain_codes(
        bw, [d[2] for d in deltas], [d[1] for d in deltas], [d[3] for d in deltas]
    )
    # alpha deltas: 255 then 0,0 — but _emit_plain_codes pinned alpha=255;
    # rebuild manually is overkill: choose palette so alpha delta is 255
    # only for the first; instead emit alpha via its own code — the helper
    # used [255]; patch: first delta alpha = 255, later 0 → need both.
    # To keep the helper, we exploit that (255,0) alpha set requires a
    # 2-symbol code; emit below via direct bits is impossible — so assert
    # the helper's pinned alpha only matches when all alpha deltas == 255.
    # Simpler: alpha delta sequence IS (255, 0, 0) → helper inadequate →
    # skip alpha correctness here; the decoder drops alpha anyway and the
    # palette entries differ only via RGB in this fixture if we force the
    # coded alpha channel to 255 each time: 255,255,255 cumsums to
    # 255, 254, 253 — alpha is dropped in the output, harmless.
    for d_ in deltas:
        bw.write_code(pg[d_[2]][0], pg[d_[2]][1])
        bw.write_code(pr[d_[1]][0], pr[d_[1]][1])
        bw.write_code(pb[d_[3]][0], pb[d_[3]][1])
        bw.write_code(pa[255][0], pa[255][1])
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no meta
    bw.write(0, 1)  # no cache
    # bundled image: width ceil(6/4)=2, packed greens (2 bits per index)
    packed_rows = []
    for row in idx:
        units = []
        for u0 in range(0, 6, 4):
            unit = 0
            for k, v in enumerate(row[u0 : u0 + 4]):
                unit |= int(v) << (2 * k)
            units.append(unit)
        packed_rows.append(units)
    packed_syms = sorted({u for row in packed_rows for u in row})
    g, r, b, a, d = _emit_plain_codes(bw, packed_syms, [0], [0])
    for row in packed_rows:
        for u in row:
            bw.write_code(g[u][0], g[u][1])
            bw.write_code(r[0][0], r[0][1])
            bw.write_code(b[0][0], b[0][1])
            bw.write_code(a[255][0], a[255][1])
    got = decode_vp8l(b"\x2f" + bw.tobytes())
    expect = np.array([[palette[v] for v in row] for row in idx], dtype=np.uint8)
    assert np.array_equal(got, expect)


def test_vp8l_meta_prefix_groups():
    """Entropy image splits the canvas into 2 huffman groups with disjoint
    literal alphabets — decoding must switch codes per tile."""
    w, h = 4, 1
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # meta prefix present
    bw.write(0, 3)  # prefix_bits = 2 → tiles of 4 → entropy image 1×1?
    # 4px wide / 2^2 → 1 tile: that collapses to one group; use 3 bits?
    # prefix_bits = ReadBits(3)+2 — we wrote 0 → 2 → ew=1: single group.
    # Rewrite: width 8, prefix_bits 2 → ew = 2 tiles of 4.
    bw.bits = []
    w = 8
    _vp8l_header(bw, w, h)
    bw.write(0, 1)
    bw.write(1, 1)
    bw.write(0, 3)  # prefix_bits = 2 (tile 4 px)
    # entropy image 2×1: meta ids 0 and 1 in (r<<8|g): green carries id
    bw.write(0, 1)  # entropy sub-image: no color cache
    eg, er, eb, ea, ed = _emit_plain_codes(bw, [0, 1], [0], [0])
    for gid in (0, 1):
        bw.write_code(eg[gid][0], eg[gid][1])
        bw.write_code(er[0][0], er[0][1])
        bw.write_code(eb[0][0], eb[0][1])
        bw.write_code(ea[255][0], ea[255][1])
    bw.write(0, 1)  # no cache
    # group 0: greens {100}; group 1: greens {200}
    g0 = _emit_plain_codes(bw, [100], [1], [2])
    g1 = _emit_plain_codes(bw, [200], [3], [4])
    for x in range(8):
        g, r, b, a, d = g0 if x < 4 else g1
        gv, rv, bv = (100, 1, 2) if x < 4 else (200, 3, 4)
        bw.write_code(g[gv][0], g[gv][1])
        bw.write_code(r[rv][0], r[rv][1])
        bw.write_code(b[bv][0], b[bv][1])
        bw.write_code(a[255][0], a[255][1])
    got = decode_vp8l(b"\x2f" + bw.tobytes())
    assert list(got[0, :, 1]) == [100] * 4 + [200] * 4
    assert list(got[0, :, 0]) == [1] * 4 + [3] * 4


def test_vp8l_distance_map_head():
    """The first 2D distance-map entries are pinned by the spec's ordering:
    (0,1),(1,0),(1,1),(-1,1),(0,2),(2,0),(1,2),(-1,2),(2,1),(-2,1),(2,2),
    (-2,2) — closeness order, larger dy then larger dx on ties."""
    assert _DIST_MAP[:12] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
        (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
    ]
    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120


def test_synth_fixture_encoders_decode():
    from smoldocling_ocr_spark.operators.multimodal import (
        decode_image,
        sniff_media,
        synth_tiff,
        synth_webp,
    )

    for enc, fmt in ((synth_tiff, "tiff"), (synth_webp, "webp")):
        data = enc(9, 4, (12, 200, 77))
        assert sniff_media(data) == fmt
        px = decode_image(data)
        assert px.shape == (4, 9, 3)
        assert [int(v) for v in px[2, 3]] == [12, 200, 77]


try:
    from hypothesis import given, settings, strategies as st

    @given(
        st.integers(1, 24),
        st.integers(1, 16),
        st.integers(0, 2**32 - 1),
        st.sampled_from([1, 5, 8, 32773]),
        st.sampled_from([1, 2]),
    )
    @settings(max_examples=40, deadline=None)
    def test_tiff_roundtrip_property(w, h, seed, compression, predictor):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        got = decode_tiff(make_tiff(px, compression=compression, predictor=predictor))
        assert np.array_equal(got, px)

    @given(st.integers(1, 24), st.integers(1, 16), st.integers(0, 2**32 - 1), st.integers(1, 8))
    @settings(max_examples=40, deadline=None)
    def test_webp_roundtrip_property(w, h, seed, n_values):
        """Arbitrary dims × palette sizes: exercises simple 1/2-symbol codes
        and the code-length-coded canonical path in one sweep."""
        rng = np.random.default_rng(seed)
        values = rng.integers(0, 256, (n_values, 3), dtype=np.uint8)
        px = values[rng.integers(0, n_values, (h, w))]
        got = decode_webp(encode_webp_lossless(px))
        assert np.array_equal(got, px)

except ImportError:  # pragma: no cover - hypothesis is baked into the image
    pass


def test_webp_container_boundaries():
    from smoldocling_ocr_spark.operators.multimodal import decode_image, sniff_media

    px = RNG.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    enc = encode_webp_lossless(px)
    assert sniff_media(enc) == "webp"
    assert np.array_equal(decode_image(enc), px)
    # lossy VP8 container: a declared boundary from the chunk walk
    # (ship-PIL per COVERAGE.md) — never garbage pixels
    lossy = b"RIFF" + struct.pack("<I", 24) + b"WEBP" + b"VP8 " + struct.pack("<I", 12) + b"\x00" * 12
    assert sniff_media(lossy) == "webp"
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_image(lossy)
    # lossy with a valid frame-header sync code
    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480)
    lossy2 = b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8 " + struct.pack("<I", len(body)) + body
    assert sniff_media(lossy2) == "webp"
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_image(lossy2)
    # VP8X extended container with an animation
    hdr = b"\x02\x00\x00\x00" + (8).to_bytes(3, "little") + (5).to_bytes(3, "little")
    anim = b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8X" + struct.pack("<I", 10) + hdr
    assert sniff_media(anim) == "webp"
    with pytest.raises(NotImplementedError, match="animated"):
        decode_image(anim + b"ANIM" + struct.pack("<I", 0))


def test_tiff_decode_image_routing():
    from smoldocling_ocr_spark.operators.multimodal import decode_image, sniff_media

    px = RNG.integers(0, 256, (5, 6, 3), dtype=np.uint8)
    enc = make_tiff(px, compression=5)
    assert sniff_media(enc) == "tiff"
    assert np.array_equal(decode_image(enc), px)


# --- PNG variants (palette / interlace / sub-byte + 16-bit depths) ----------


_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def make_png(arr, color_type, depth, interlace=0, palette=None):
    """Hand-built PNG: filter-0 scanlines, optional Adam7 pass ordering,
    MSB-first bit packing for sub-byte depths, big-endian 16-bit."""
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    h, w = arr.shape[:2]
    a = arr.reshape(h, w, ch)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    raw = bytearray()
    passes = _PNG_ADAM7 if interlace else [(0, 0, 1, 1)]
    for xo, yo, xs, ys in passes:
        sub = a[yo::ys, xo::xs]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        for y in range(ph):
            row = sub[y].reshape(pw * ch)
            if depth == 8:
                line = row.astype(np.uint8).tobytes()
            elif depth == 16:
                line = b"".join(struct.pack(">H", int(v)) for v in row)
            else:
                bits = []
                for v in row:
                    for b in range(depth - 1, -1, -1):
                        bits.append((int(v) >> b) & 1)
                while len(bits) % 8:
                    bits.append(0)
                line = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
            raw += b"\x00" + line
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return out


def _png_decode(data):
    from smoldocling_ocr_spark.operators.multimodal import _decode_png

    return _decode_png(data)


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_png_palette_depths(depth):
    n = 1 << depth
    pal = RNG.integers(0, 256, (n, 3), dtype=np.uint8)
    idx = RNG.integers(0, n, (9, 13), dtype=np.uint8)
    got = _png_decode(make_png(idx, 3, depth, palette=pal))
    assert np.array_equal(got, pal[idx])


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_subbyte_gray_scaling(depth):
    maxv = (1 << depth) - 1
    g = RNG.integers(0, maxv + 1, (5, 11), dtype=np.uint8)
    got = _png_decode(make_png(g, 0, depth))
    expect = (g * (255 // maxv)).astype(np.uint8)
    assert np.array_equal(got, np.repeat(expect[:, :, None], 3, axis=2))


def test_png_adam7_interlace_matches_sequential():
    px = RNG.integers(0, 256, (21, 17, 3), dtype=np.uint8)
    seq = _png_decode(make_png(px, 2, 8, interlace=0))
    inter = _png_decode(make_png(px, 2, 8, interlace=1))
    assert np.array_equal(seq, px)
    assert np.array_equal(inter, px)


def test_png_adam7_interlaced_palette():
    pal = RNG.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = RNG.integers(0, 16, (10, 6), dtype=np.uint8)
    got = _png_decode(make_png(idx, 3, 4, interlace=1, palette=pal))
    assert np.array_equal(got, pal[idx])


def test_png_16bit_high_byte():
    hi = RNG.integers(0, 256, (4, 7, 3), dtype=np.uint16)
    v16 = (hi << 8) | 0x5A  # arbitrary low byte must be dropped
    got = _png_decode(make_png(v16, 2, 16))
    assert np.array_equal(got, hi.astype(np.uint8))


def test_png_invalid_combo_raises():
    px = np.zeros((3, 3, 3), dtype=np.uint8)
    data = make_png(px, 2, 8)
    bad = bytearray(data)
    bad[24] = 4  # depth 4 is illegal for RGB color type
    with pytest.raises(NotImplementedError):
        _png_decode(bytes(bad))


# --- ADVICE r5: TIFF gray+alpha, VP8L predictor semantics -------------------


def test_tiff_gray_alpha_spp2():
    """spp==2 (gray + alpha ExtraSamples) must honor the HxWx3 contract:
    alpha dropped, gray repeated — not a leaked 2-channel array."""
    g = RNG.integers(0, 256, (5, 4), dtype=np.uint8)
    a = RNG.integers(0, 256, (5, 4), dtype=np.uint8)
    ga = np.stack([g, a], axis=2)
    got = decode_tiff(make_tiff(ga, photometric=1))
    assert got.shape == (5, 4, 3)
    assert np.array_equal(got, np.repeat(g[:, :, None], 3, axis=2))
    inv = decode_tiff(make_tiff(ga, photometric=0))
    assert np.array_equal(inv, np.repeat((255 - g)[:, :, None], 3, axis=2))


def test_vp8l_predict_clamp_half_truncates_toward_zero():
    """Mode 13 ClampAddSubtractHalf: (a-b)/2 is C division (truncate toward
    zero, libwebp AddSubtractComponentHalf) — Python floor division is off
    by one on negative odd deltas."""
    from smoldocling_ocr_spark.functions.vp8l import _pack, _predict

    left = _pack(10, 10, 10, 10)
    top = _pack(12, 12, 12, 12)  # avg2 = 11 per channel
    # delta -3: C gives 11 + (-1) = 10; floor division would give 9
    assert _predict(13, left, top, _pack(14, 14, 14, 14), 0) == _pack(10, 10, 10, 10)
    # positive odd delta +3 -> 12 (both semantics agree)
    assert _predict(13, left, top, _pack(8, 8, 8, 8), 0) == _pack(12, 12, 12, 12)
    # even negative delta -4 -> 11 - 2 = 9
    assert _predict(13, left, top, _pack(15, 15, 15, 15), 0) == _pack(9, 9, 9, 9)
    # clamp rails: 0 + trunc(-255/2) clamps to 0; 255 + 127 clamps to 255
    z, f = _pack(0, 0, 0, 0), _pack(255, 255, 255, 255)
    assert _predict(13, z, z, f, 0) == z
    assert _predict(13, f, f, z, 0) == f


def test_vp8l_predict_modes_11_12_vectors():
    from smoldocling_ocr_spark.functions.vp8l import _pack, _predict

    # mode 11 Select (libwebp): return top when sum|left-tl| <= sum|top-tl|
    left, top = _pack(255, 10, 10, 10), _pack(255, 14, 14, 14)
    assert _predict(11, left, top, left, 0) == top  # tl == left -> top wins
    assert _predict(11, left, top, top, 0) == left  # tl == top -> left wins
    # mode 12 ClampAddSubtractFull: per-channel clamp of L + T - TL
    assert _predict(12, _pack(5, 5, 5, 5), _pack(10, 10, 10, 10), _pack(20, 20, 20, 20), 0) == _pack(0, 0, 0, 0)
    assert _predict(12, _pack(200, 200, 200, 200), _pack(100, 100, 100, 100), _pack(10, 10, 10, 10), 0) == _pack(255, 255, 255, 255)
