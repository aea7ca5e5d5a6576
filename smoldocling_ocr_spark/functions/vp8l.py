"""WebP-lossless (VP8L) decoding with no codec library, plus a minimal
spec-conformant encoder used by test fixtures.

Decoder scope (the format as served on the web, RFC 9649): canonical prefix
codes (simple and code-length-coded), color cache, LZ77 backward references
with the 120-entry 2D distance map, meta prefix groups via the entropy
image, and all four transforms — predictor (14 modes), color, subtract
green, color indexing (incl. pixel bundling for palettes ≤ 16 colors).
Lossy VP8 and animated containers raise NotImplementedError — declared
codec boundaries like the tiled and non-8-bit TIFF cases in imagedec.py.

Encoder scope (fixtures only): no transforms, no cache, single meta group,
balanced complete prefix codes — enough to produce REAL spec-valid VP8L
streams for round-trip and driver-fixture tests without libwebp.

Reference context: the reference opens images through PIL wherever media is
accepted (metadata_extractor.py:148-207, app.py:94-119); PIL's WebP plugin
covers this format there.
"""

from __future__ import annotations

import struct

import numpy as np

# code-length-code symbol order (RFC 9649 §4.2.1.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_PRED, _COLOR, _SUB_GREEN, _PALETTE = 0, 1, 2, 3

# 120-entry LZ77 2D distance map: near offsets (dx in [-8, 8], dy in [0, 7],
# causal: dy > 0 or dx > 0) ordered by closeness — ascending squared
# distance, ties broken by larger dy then larger dx (the ordering the
# spec's plane-code table encodes: (0,1),(1,0),(1,1),(-1,1),(0,2),(2,0),…).
def _build_dist_map() -> list[tuple[int, int]]:
    cands = [
        (dx, dy)
        for dy in range(8)
        for dx in range(-8, 9)
        if dy > 0 or dx > 0
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cands[:120]


_DIST_MAP = _build_dist_map()


class _Bits:
    """LSB-first bit reader over bytes (VP8L bit order)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("VP8L bitstream overrun")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _Prefix:
    """Canonical (DEFLATE-style) prefix code: decode by MSB-first bit walk."""

    __slots__ = ("table", "single", "max_len")

    def __init__(self, code_lengths: list[int]):
        used = [(l, s) for s, l in enumerate(code_lengths) if l > 0]
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = {}
            self.max_len = 0
            return
        self.single = None
        used.sort()
        table: dict[tuple[int, int], int] = {}
        code = 0
        prev_len = used[0][0]
        for length, sym in used:
            code <<= length - prev_len
            prev_len = length
            table[(length, code)] = sym
            code += 1
        if code != (1 << prev_len):
            raise ValueError("prefix code not complete")
        self.table = table
        self.max_len = prev_len

    def decode(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        length = 0
        while length <= self.max_len:
            acc = (acc << 1) | br.read(1)
            length += 1
            sym = self.table.get((length, acc))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code sequence")


def _read_prefix_code(br: _Bits, alphabet_size: int) -> _Prefix:
    if br.read(1):  # simple code: 1 or 2 symbols
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        sym0 = br.read(8 if first_8bit else 1)
        lp = _Prefix.__new__(_Prefix)
        if num_symbols == 2:
            sym1 = br.read(8)
            # code 0 is the FIRST symbol read (not canonical-by-value)
            lp.single = None
            lp.table = {(1, 0): sym0, (1, 1): sym1}
            lp.max_len = 1
        else:
            lp.single = sym0
            lp.table = {}
            lp.max_len = 0
        return lp
    # code-length-coded
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _Prefix(cl_lengths)
    if br.read(1):  # limited number of coded symbols
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl_code.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev_len
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _Prefix(lengths)


def _prefix_value(br: _Bits, code: int) -> int:
    """Length/distance prefix decoding: 24- and 40-symbol alphabets share
    this (2 + (code&1)) << extra_bits piecewise mapping."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_to_distance(width: int, dist_code: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_MAP[dist_code - 1]
    return max(1, dy * width + dx)


_HASH_MUL = 0x1E35A7BD


def _decode_image_stream(br: _Bits, width: int, height: int, level0: bool):
    """One VP8L image stream → (argb uint32 array h×w, transforms list).
    Sub-images (entropy/predictor/color/palette) recurse with level0=False
    (no transforms, no meta prefix)."""
    transforms = []
    cur_w = width
    if level0:
        while br.read(1):
            t = br.read(2)
            if any(tt[0] == t for tt in transforms):
                raise ValueError("duplicate VP8L transform")
            if t in (_PRED, _COLOR):
                size_bits = br.read(3) + 2
                tw = (cur_w + (1 << size_bits) - 1) >> size_bits
                th = (height + (1 << size_bits) - 1) >> size_bits
                sub, _ = _decode_image_stream(br, tw, th, False)
                transforms.append((t, size_bits, sub))
            elif t == _SUB_GREEN:
                transforms.append((t, None, None))
            else:  # palette
                n_colors = br.read(8) + 1
                pal_img, _ = _decode_image_stream(br, n_colors, 1, False)
                pal = pal_img[0].astype(np.uint32)
                # palette entries are component-wise delta-coded
                for i in range(1, n_colors):
                    a = (pal[i] >> 24) + (pal[i - 1] >> 24)
                    r = ((pal[i] >> 16) & 0xFF) + ((pal[i - 1] >> 16) & 0xFF)
                    g = ((pal[i] >> 8) & 0xFF) + ((pal[i - 1] >> 8) & 0xFF)
                    b = (pal[i] & 0xFF) + (pal[i - 1] & 0xFF)
                    pal[i] = (
                        ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF)
                    )
                if n_colors <= 2:
                    xbits = 3
                elif n_colors <= 4:
                    xbits = 2
                elif n_colors <= 16:
                    xbits = 1
                else:
                    xbits = 0
                transforms.append((t, (xbits, cur_w), pal))
                cur_w = (cur_w + (1 << xbits) - 1) >> xbits
    # meta prefix groups (spatially-coded images only)
    entropy_img = None
    prefix_bits = 0
    n_groups = 1
    if level0 and br.read(1):
        prefix_bits = br.read(3) + 2
        ew = (cur_w + (1 << prefix_bits) - 1) >> prefix_bits
        eh = (height + (1 << prefix_bits) - 1) >> prefix_bits
        entropy_img, _ = _decode_image_stream(br, ew, eh, False)
        meta_ids = ((entropy_img >> 8) & 0xFFFF).astype(np.int64)
        n_groups = int(meta_ids.max()) + 1
    # color cache
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("invalid color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    # prefix code groups: green+len+cache, red, blue, alpha, distance
    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 40),
            )
        )
    # LZ77-coded pixels
    n_px = cur_w * height
    out = np.zeros(n_px, dtype=np.uint32)
    pos = 0
    g = groups[0]
    while pos < n_px:
        if entropy_img is not None:
            x, y = pos % cur_w, pos // cur_w
            gid = int(entropy_img[y >> prefix_bits, x >> prefix_bits])
            g = groups[(gid >> 8) & 0xFFFF]
        s = g[0].decode(br)
        if s < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_size:
                cache[((_HASH_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif s < 280:
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, g[4].decode(br))
            dist = _plane_to_distance(cur_w, dist_code)
            if dist > pos or pos + length > n_px:
                raise ValueError("invalid VP8L backward reference")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache_size:
                    cache[((_HASH_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        else:
            if not cache_size:
                raise ValueError("color cache symbol without cache")
            out[pos] = cache[s - 280]
            pos += 1
    argb = out.reshape(height, cur_w)
    if level0:
        for t, p1, p2 in reversed(transforms):
            argb = _inverse_transform(argb, t, p1, p2, width)
    return argb, transforms


def _avg2(a, b):
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((a & 0xFF) + (b & 0xFF)) >> 1
    )


def _chans(p):
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _pack(a, r, g, b):
    return ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF)


def _clamp(v):
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    la, lr, lg, lb = _chans(left)
    ta, tr_, tg, tb = _chans(top)
    ca, cr, cg, cb = _chans(tl)
    if mode == 11:  # Select
        pa, pr, pg, pb = la + ta - ca, lr + tr_ - cr, lg + tg - cg, lb + tb - cb
        p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
        p_t = abs(pa - ta) + abs(pr - tr_) + abs(pg - tg) + abs(pb - tb)
        return left if p_l < p_t else top
    if mode == 12:  # ClampAddSubtractFull
        return _pack(
            _clamp(la + ta - ca), _clamp(lr + tr_ - cr), _clamp(lg + tg - cg), _clamp(lb + tb - cb)
        )
    # mode 13: ClampAddSubtractHalf — the (a-b)/2 step is C integer
    # division (truncates toward zero, libwebp AddSubtractComponentHalf);
    # Python // floors, which is off by one for negative odd deltas
    av = _avg2(left, top)
    aa, ar, ag, ab = _chans(av)

    def _half(d: int) -> int:
        return -((-d) // 2) if d < 0 else d // 2

    return _pack(
        _clamp(aa + _half(aa - ca)),
        _clamp(ar + _half(ar - cr)),
        _clamp(ag + _half(ag - cg)),
        _clamp(ab + _half(ab - cb)),
    )


def _inverse_transform(argb: np.ndarray, t: int, p1, p2, full_width: int) -> np.ndarray:
    h, w = argb.shape
    if t == _SUB_GREEN:
        g = (argb >> 8) & 0xFF
        r = (((argb >> 16) & 0xFF) + g) & 0xFF
        b = ((argb & 0xFF) + g) & 0xFF
        return (argb & 0xFF00FF00) | (r << 16) | b
    if t == _COLOR:
        size_bits, sub = p1, p2
        out = argb.copy()
        g_s = (((argb >> 8) & 0xFF).astype(np.int32) + 128) % 256 - 128
        for ty in range(sub.shape[0]):
            for tx in range(sub.shape[1]):
                cte = int(sub[ty, tx])
                g2r = ((cte & 0xFF) + 128) % 256 - 128
                g2b = (((cte >> 8) & 0xFF) + 128) % 256 - 128
                r2b = (((cte >> 16) & 0xFF) + 128) % 256 - 128
                ys = slice(ty << size_bits, min((ty + 1) << size_bits, h))
                xs = slice(tx << size_bits, min((tx + 1) << size_bits, w))
                blk = out[ys, xs]
                gs = g_s[ys, xs]
                red = (((blk >> 16) & 0xFF).astype(np.int32) + ((g2r * gs) >> 5)) & 0xFF
                red_s = (red.astype(np.int32) + 128) % 256 - 128
                blue = (
                    (blk & 0xFF).astype(np.int32) + ((g2b * gs) >> 5) + ((r2b * red_s) >> 5)
                ) & 0xFF
                out[ys, xs] = (
                    (blk & 0xFF00FF00)
                    | (red.astype(np.uint32) << 16)
                    | blue.astype(np.uint32)
                )
        return out
    if t == _PRED:
        size_bits, sub = p1, p2
        out = argb.astype(np.int64)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(out[0, x - 1])  # row 0: left
                elif x == 0:
                    pred = int(out[y - 1, 0])  # col 0: top
                else:
                    mode = (int(sub[y >> size_bits, x >> size_bits]) >> 8) & 0xFF
                    left = int(out[y, x - 1])
                    top = int(out[y - 1, x])
                    tl = int(out[y - 1, x - 1])
                    # rightmost column: TR is the leftmost pixel of the
                    # current row (the in-memory successor of the top row)
                    tr = int(out[y - 1, x + 1]) if x + 1 < w else int(out[y, 0])
                    pred = _predict(mode, left, top, tl, tr)
                d = int(out[y, x])
                pa, pr, pg, pb = _chans(pred)
                da, dr, dg, db = _chans(d)
                out[y, x] = _pack(da + pa, dr + pr, dg + pg, db + pb)
        return out.astype(np.uint32)
    if t == _PALETTE:
        (xbits, orig_w), pal = p1, p2
        if xbits:
            per = 1 << xbits  # pixels per packed unit
            bits = 8 >> xbits  # bits per index
            idx = np.zeros((h, orig_w), dtype=np.uint32)
            packed = (argb >> 8) & 0xFF
            for k in range(per):
                cols = np.arange(w) * per + k
                valid = cols < orig_w
                idx[:, cols[valid]] = (packed[:, valid] >> (k * bits)) & ((1 << bits) - 1)
        else:
            idx = (argb >> 8) & 0xFF
        idx = np.minimum(idx, len(pal) - 1)
        return pal[idx]
    raise ValueError(f"unknown transform {t}")


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload → HxWx3 uint8 (alpha dropped)."""
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _Bits(data)
    br.pos = 8
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise NotImplementedError("unknown VP8L version")
    argb, _ = _decode_image_stream(br, width, height, True)
    out = np.empty((height, width, 3), dtype=np.uint8)
    out[:, :, 0] = (argb >> 16) & 0xFF
    out[:, :, 1] = (argb >> 8) & 0xFF
    out[:, :, 2] = argb & 0xFF
    return out


def decode_webp(payload: bytes) -> np.ndarray:
    """RIFF/WEBP container → pixels. VP8L (lossless) is decoded for real;
    lossy VP8 and animations are declared NotImplementedError boundaries."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    i = 12
    while i + 8 <= len(payload):
        fourcc = payload[i : i + 4]
        (size,) = struct.unpack_from("<I", payload, i + 4)
        body = payload[i + 8 : i + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(body)
        if fourcc == b"VP8 ":
            raise NotImplementedError("lossy VP8 webp needs a DCT codec (ship PIL)")
        if fourcc == b"ANMF" or fourcc == b"ANIM":
            raise NotImplementedError("animated webp not supported")
        i += 8 + size + (size & 1)
    raise ValueError("no image chunk in WebP container")


# --- minimal encoder (fixtures/tests) --------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:  # LSB-first
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int) -> None:  # MSB-first (prefix codes)
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _balanced_lengths(symbols: list[int], alphabet: int) -> list[int]:
    """Complete prefix code over the used symbols: 2^L − n of them get
    length L−1, the rest L (L = ceil(log2 n)) — valid, not optimal."""
    n = len(symbols)
    lengths = [0] * alphabet
    L = max(1, (n - 1).bit_length())
    short = (1 << L) - n
    for i, s in enumerate(sorted(symbols)):
        lengths[s] = L - 1 if i < short and L > 1 else L
    return lengths


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    used = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev = used[0][0]
    for l, s in used:
        code <<= l - prev
        prev = l
        codes[s] = (code, l)
        code += 1
    return codes


def _emit_prefix_code(bw: _BitWriter, lengths: list[int], symbols: list[int]):
    """Emit either a simple code (≤2 symbols) or a code-length-coded one;
    returns the symbol→(code,length) map used to write data."""
    if len(symbols) == 1:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # num_symbols - 1 = 0
        s = symbols[0]
        if s < 2:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(s, 1)
        else:
            bw.write(1, 1)
            bw.write(s, 8)
        return {s: (0, 0)}
    if len(symbols) == 2:
        s0, s1 = sorted(symbols)
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        if s0 < 2:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    bw.write(0, 1)  # code-length-coded
    cl_used = sorted(set(lengths))  # includes 0 for unused slots
    cl_lengths19 = _balanced_lengths(cl_used, 19)
    max_pos = max(_CL_ORDER.index(s) for s in cl_used)
    num_codes = max(4, max_pos + 1)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths19[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol cap: one cl symbol per alphabet slot
    cl_codes = _canonical_codes(cl_lengths19)
    for l in lengths:
        c, n = cl_codes[l]
        bw.write_code(c, n)
    return _canonical_codes(lengths)


def encode_webp_lossless(px: np.ndarray) -> bytes:
    """HxWx3 uint8 → spec-valid VP8L WebP (no transforms, no cache, one
    prefix-code group). Real canonical prefix codes over the actual symbol
    histograms, so round-trips exercise the full decoder path."""
    h, w, _ = px.shape
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms... (level0 transform bit)
    bw.write(0, 1)  # no meta prefix
    bw.write(0, 1)  # no color cache
    greens = px[:, :, 1].ravel()
    reds = px[:, :, 0].ravel()
    blues = px[:, :, 2].ravel()
    plans = []
    for channel, alphabet in ((greens, 280), (reds, 256), (blues, 256)):
        symbols = sorted(set(int(v) for v in channel))
        lengths = _balanced_lengths(symbols, alphabet)
        plans.append(_emit_prefix_code(bw, lengths, symbols))
    alpha_codes = _emit_prefix_code(bw, _balanced_lengths([255], 256), [255])
    dist_codes = _emit_prefix_code(bw, _balanced_lengths([0], 40), [0])
    g_codes, r_codes, b_codes = plans
    for gv, rv, bv in zip(greens, reds, blues):
        c, n = g_codes[int(gv)]
        bw.write_code(c, n)
        c, n = r_codes[int(rv)]
        bw.write_code(c, n)
        c, n = b_codes[int(bv)]
        bw.write_code(c, n)
        c, n = alpha_codes[255]
        bw.write_code(c, n)
    stream = b"\x2f" + bw.tobytes()
    riff_size = 4 + 8 + len(stream) + (len(stream) & 1)
    out = b"RIFF" + struct.pack("<I", riff_size) + b"WEBP" + b"VP8L"
    out += struct.pack("<I", len(stream)) + stream
    if len(stream) & 1:
        out += b"\x00"
    return out
