"""WebP-lossless (VP8L) codec, pure python + numpy — a format where full
in-repo decode is possible WITHOUT normative table blobs: every entropy code (the prefix codes, the code-length code) ships
IN the bitstream, and the only fixed tables are tiny structural constants
printed in the public spec (the 19-entry code-length order and the
120-entry short-distance map).

Sources: the public WebP Lossless Bitstream Specification (RFC 9649 /
developers.google.com "webp lossless bitstream"). No reference-repo
counterpart exists (the reference has no media surface); provenance
citations therefore point at the spec sections.

Decoder capability: the full spec surface — all four transforms
(predictor, color/cross-color, subtract-green, color-indexing incl. pixel
bundling), color cache, meta prefix codes (entropy image), LZ77 backward
references with the short-distance neighborhood map, simple and normal
prefix-code encodings with 16/17/18 repeat codes and the optional
max-symbol cap. Encoder capability (hermetic test twin): literal +
run-LZ77 coding with real canonical prefix codes, optional subtract-green
and color-indexing transforms — enough to exercise every decoder path the
container's tests need; interop with real libwebp streams is additionally
pinned by an env-gated Pillow differential test (tests/test_vp8l.py).

Degenerate-code convention: a NORMAL prefix code whose length table holds
exactly one non-zero entry decodes as a zero-bit code (the same semantics
the spec's "simple" one-symbol variant has). This module's encoder never
emits that shape (it pads a dummy second symbol instead), so round-trips
are unambiguous either way.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_CODE_LENGTH = 15

# spec: order in which code-length code lengths are stored ("Decoding the
# Code Lengths", RFC 9649 §4.2.2)
CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# spec: the 120-entry short-distance neighborhood map ("Distance Mapping",
# RFC 9649 §4.4.2.2) — (dx, dy) offsets; code i (1-based) maps to
# max(1, dy * xsize + dx). Codes above 120 are literal distances - 120.
DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

# color cache hash multiplier (spec §4.4.2.3)
CACHE_MUL = 0x1E35A7BD


class VP8LError(ValueError):
    pass


# ---------------------------------------------------------------------------
# bit IO — VP8L is LSB-first within bytes; prefix CODEWORDS are read bit by
# bit MSB-of-codeword-first (each new bit extends the low end of the walk)
# ---------------------------------------------------------------------------


class BitReader:
    __slots__ = ("data", "n", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data) * 8
        self.pos = 0

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        if self.pos + nbits > self.n:
            raise VP8LError("read past end of VP8L stream")
        v = 0
        p = self.pos
        d = self.data
        for i in range(nbits):
            v |= ((d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + nbits
        return v

    def read_bit(self) -> int:
        p = self.pos
        if p >= self.n:
            raise VP8LError("read past end of VP8L stream")
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1


class BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int) -> None:
        # codewords go to the stream MSB-first
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def getvalue(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)


# ---------------------------------------------------------------------------
# canonical prefix codes (DEFLATE convention: codes assigned in increasing
# length, ties by symbol index)
# ---------------------------------------------------------------------------


def canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{symbol: length>0} -> {symbol: (code, length)}."""
    syms = sorted(lengths, key=lambda s: (lengths[s], s))
    codes = {}
    code = 0
    prev_len = 0
    for s in syms:
        ln = lengths[s]
        code <<= ln - prev_len
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class PrefixCode:
    """Decoder-side canonical prefix code: a binary tree walked one stream
    bit at a time. A single-symbol code consumes zero bits (see module
    docstring)."""

    __slots__ = ("tree", "single")

    def __init__(self, length_list: list[int]):
        nz = [(s, ln) for s, ln in enumerate(length_list) if ln > 0]
        if not nz:
            raise VP8LError("prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][0]
            self.tree = None
            return
        self.single = None
        # completeness (Kraft) check: an over/under-subscribed code is a
        # corrupt stream
        kraft = sum(1 << (MAX_CODE_LENGTH - ln) for _, ln in nz)
        if kraft != 1 << MAX_CODE_LENGTH:
            raise VP8LError("incomplete prefix code")
        codes = canonical_codes(dict(nz))
        tree: list[list[int]] = [[0, 0]]
        for sym, (code, ln) in codes.items():
            node = 0
            for i in range(ln - 1, -1, -1):
                bit = (code >> i) & 1
                nxt = tree[node][bit]
                if i == 0:
                    tree[node][bit] = -(sym + 1)
                else:
                    if nxt == 0:
                        tree.append([0, 0])
                        nxt = len(tree) - 1
                        tree[node][bit] = nxt
                    node = nxt
        self.tree = tree

    def decode(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        node = 0
        tree = self.tree
        while True:
            nxt = tree[node][br.read_bit()]
            if nxt < 0:
                return -nxt - 1
            node = nxt


def limited_lengths(counts: dict[int, int], limit: int = MAX_CODE_LENGTH) -> dict[int, int]:
    """Huffman code lengths for symbol->count, limited to `limit` bits
    (heap build + the standard Kraft-repair adjustment)."""
    import heapq

    syms = [s for s, c in counts.items() if c > 0]
    if not syms:
        raise VP8LError("empty histogram")
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(counts[s], s, (s,)) for s in syms]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        c1, t1, m1 = heapq.heappop(heap)
        c2, t2, m2 = heapq.heappop(heap)
        for s in m1 + m2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, min(t1, t2), m1 + m2))
    # clamp + repair: force lengths <= limit, then shrink the Kraft sum
    # back to exactly 1 by deepening the shallowest over-budget leaves
    lens = {s: min(d, limit) for s, d in depth.items()}
    kraft = sum(1 << (limit - ln) for ln in lens.values())
    full = 1 << limit
    while kraft > full:
        # deepen the currently-shallowest clampable symbol
        s = min((s for s in lens if lens[s] < limit), key=lambda s: lens[s])
        kraft -= 1 << (limit - lens[s])
        lens[s] += 1
        kraft += 1 << (limit - lens[s])
    # tighten: promote symbols while the code stays complete
    changed = True
    while changed:
        changed = False
        for s in sorted(lens, key=lambda s: -lens[s]):
            if lens[s] > 1 and kraft + (1 << (limit - lens[s])) <= full:
                kraft += 1 << (limit - lens[s])
                lens[s] -= 1
                changed = True
    return lens


# ---------------------------------------------------------------------------
# prefix-coded values (LZ77 lengths and distance codes, spec §4.4.2.2)
# ---------------------------------------------------------------------------


def prefix_value_decode(code: int, br: BitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def prefix_value_encode(value: int) -> tuple[int, int, int]:
    """value >= 1 -> (prefix_code, extra_bits_value, n_extra_bits)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    return 2 * extra + ((v >> extra) & 1) + 2, value - offset - 1, extra


# ---------------------------------------------------------------------------
# prefix-code (de)serialization (spec §4.2)
# ---------------------------------------------------------------------------


def read_prefix_code(br: BitReader, alphabet_size: int) -> PrefixCode:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        if br.read_bit():  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read_bit()
        lengths = [0] * alphabet_size
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym0 == sym1 or max(sym0, sym1) >= alphabet_size:
                raise VP8LError("invalid simple prefix code")
            lengths[sym0] = 1
            lengths[sym1] = 1
        else:
            if sym0 >= alphabet_size:
                raise VP8LError("invalid simple prefix code")
            lengths[sym0] = 1
        return PrefixCode(lengths)
    # normal code: code-length code first
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[CL_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)
    # optional cap on the number of length TOKENS read
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_tokens = 2 + br.read(length_nbits)
    else:
        max_tokens = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_tokens == 0:
            break
        max_tokens -= 1
        cl = cl_code.decode(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev_len = cl
        elif cl == 16:
            for _ in range(3 + br.read(2)):
                if symbol >= alphabet_size:
                    raise VP8LError("repeat past alphabet end")
                lengths[symbol] = prev_len
                symbol += 1
        elif cl == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
        if symbol > alphabet_size:
            raise VP8LError("repeat past alphabet end")
    return PrefixCode(lengths)


def write_prefix_code(bw: BitWriter, lengths: dict[int, int],
                      alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Emit a prefix code for `lengths` ({sym: len>0}) and return the
    symbol->(code,len) map for payload writing. Uses the simple form for
    <=2 symbols that fit 8 bits; otherwise the normal form with 17/18
    zero-run codes and no token cap."""
    used = sorted(lengths)
    if used and (used[0] < 0 or used[-1] >= alphabet_size):
        # a symbol outside the alphabet would be silently dropped from the
        # serialized code-length table (the emit loop stops at
        # alphabet_size) while its codeword still lands in the payload —
        # an undecodable stream; fail loudly instead
        raise ValueError(
            f"prefix-code symbol {used[0] if used[0] < 0 else used[-1]} "
            f"outside alphabet of size {alphabet_size}"
        )
    if 1 <= len(used) <= 2 and used[-1] < 256:
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    lens = dict(lengths)
    if len(used) == 1:
        # normal-form single symbol is the degenerate shape we refuse to
        # emit — pad a never-used dummy so the code is complete
        dummy = 0 if used[0] != 0 else 1
        lens = {used[0]: 1, dummy: 1}
    # rewrite lengths (no cap, zero runs via 17/18)
    bw.write(0, 1)  # normal
    seq: list[tuple[int, int]] = []  # (cl_symbol, extra_bits_payload)
    pos = 0
    while pos < alphabet_size:
        ln = lens.get(pos, 0)
        if ln:
            seq.append((ln, -1))
            pos += 1
            continue
        run = 0
        while pos + run < alphabet_size and lens.get(pos + run, 0) == 0:
            run += 1
        pos += run
        while run > 0:
            if run < 3:
                seq.extend([(0, -1)] * run)
                run = 0
            elif run <= 10:
                seq.append((17, run - 3))
                run = 0
            else:
                chunk = min(run, 138)
                seq.append((18, chunk - 11))
                run -= chunk
    cl_counts: dict[int, int] = {}
    for s, _ in seq:
        cl_counts[s] = cl_counts.get(s, 0) + 1
    cl_lens = limited_lengths(cl_counts, 7)
    if len(cl_lens) == 1:
        only = next(iter(cl_lens))
        cl_lens = {only: 1, (0 if only != 0 else 1): 1}
    num_cl = max(CL_ORDER.index(s) for s in cl_lens) + 1
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lens.get(CL_ORDER[i], 0), 3)
    cl_codes = canonical_codes(cl_lens)
    bw.write(0, 1)  # no token cap
    for s, extra in seq:
        c, ln = cl_codes[s]
        bw.write_code(c, ln)
        if s == 17:
            bw.write(extra, 3)
        elif s == 18:
            bw.write(extra, 7)
    return canonical_codes(lens)


# ---------------------------------------------------------------------------
# entropy-coded image decoder (spec §4.4) — shared by the main image, the
# transform sub-images, the palette and the entropy (meta) image
# ---------------------------------------------------------------------------


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def decode_image_stream(br: BitReader, w: int, h: int, level0: bool):
    """-> (argb_flat int64 numpy array of length w*h (0xAARRGGBB), final
    xsize after a color-indexing transform, transforms list)."""
    transforms: list[tuple] = []
    xsize = w
    if level0:
        seen = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen:
                raise VP8LError("transform repeated")
            seen.add(ttype)
            if ttype == 0:  # predictor
                size_bits = br.read(3) + 2
                bs = 1 << size_bits
                tw, th = _div_round_up(xsize, bs), _div_round_up(h, bs)
                sub, _, _ = decode_image_stream(br, tw, th, False)
                transforms.append(("predictor", size_bits, sub, xsize))
            elif ttype == 1:  # color (cross-color)
                size_bits = br.read(3) + 2
                bs = 1 << size_bits
                tw, th = _div_round_up(xsize, bs), _div_round_up(h, bs)
                sub, _, _ = decode_image_stream(br, tw, th, False)
                transforms.append(("color", size_bits, sub, xsize))
            elif ttype == 2:  # subtract green
                transforms.append(("subtract_green",))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal, _, _ = decode_image_stream(br, n_colors, 1, False)
                # palette entries are componentwise delta-coded
                pal = pal.astype(np.int64)
                acc = np.zeros(4, dtype=np.int64)
                table = np.zeros((n_colors, 4), dtype=np.uint8)
                for i in range(n_colors):
                    v = int(pal[i])
                    comp = np.array(
                        [(v >> 24) & 255, (v >> 16) & 255,
                         (v >> 8) & 255, v & 255], dtype=np.int64)
                    acc = (acc + comp) & 255
                    table[i] = acc
                wb = 3 if n_colors <= 2 else 2 if n_colors <= 4 else \
                    1 if n_colors <= 16 else 0
                transforms.append(("palette", wb, table, xsize))
                xsize = _div_round_up(xsize, 1 << wb)
    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise VP8LError(f"invalid color cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    # meta prefix codes (level0 only)
    meta = None
    hbits = 0
    n_groups = 1
    if level0 and br.read_bit():
        hbits = br.read(3) + 2
        mw, mh = _div_round_up(xsize, 1 << hbits), _div_round_up(h, 1 << hbits)
        meta_img, _, _ = decode_image_stream(br, mw, mh, False)
        meta = (((meta_img >> 16) & 255) << 8) | ((meta_img >> 8) & 255)
        meta = meta.astype(np.int64)
        n_groups = int(meta.max()) + 1
        meta_w = mw
    groups = []
    alph = [256 + 24 + cache_size, 256, 256, 256, 40]
    for _ in range(n_groups):
        groups.append([read_prefix_code(br, a) for a in alph])
    # pixel loop
    npix = xsize * h
    out = np.zeros(npix, dtype=np.int64)
    cache = [0] * cache_size
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    g = groups[0]
    single_group = n_groups == 1 and meta is None
    while pos < npix:
        if not single_group:
            x, y = pos % xsize, pos // xsize
            g = groups[int(meta[(y >> hbits) * meta_w + (x >> hbits)])]
        s = g[0].decode(br)
        if s < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_bits:
                cache[(CACHE_MUL * px & 0xFFFFFFFF) >> cache_shift] = px
        elif s < 280:
            length = prefix_value_decode(s - 256, br)
            dcode = g[4].decode(br)
            dval = prefix_value_decode(dcode, br)
            if dval > 120:
                dist = dval - 120
            else:
                dx, dy = DIST_MAP[dval - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npix:
                raise VP8LError("backward reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache_bits:
                    cache[(CACHE_MUL * px & 0xFFFFFFFF) >> cache_shift] = px
        else:
            if s - 280 >= cache_size:
                raise VP8LError("color cache index out of range")
            out[pos] = cache[s - 280]
            pos += 1
    return out, xsize, transforms


# ---------------------------------------------------------------------------
# inverse transforms (spec §4.3), applied in reverse read order
# ---------------------------------------------------------------------------


def _avg2(a, b):
    return (a + b) >> 1


def _apply_predictor_inverse(px: np.ndarray, w: int, h: int,
                             size_bits: int, modes: np.ndarray) -> np.ndarray:
    """px: (h*w, 4) int16 residuals (a,r,g,b); -> actual values."""
    bs_w = _div_round_up(w, 1 << size_bits)
    out = px.astype(np.int64)

    def clamp(v):
        return max(0, min(255, v))

    for i in range(h * w):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = (255, 0, 0, 0)
        elif y == 0:
            pred = tuple(int(c) for c in out[i - 1])
        elif x == 0:
            pred = tuple(int(c) for c in out[i - w])
        else:
            mode = int(
                (modes[(y >> size_bits) * bs_w + (x >> size_bits)] >> 8) & 255
            )
            L = out[i - 1]
            T = out[i - w]
            TL = out[i - w - 1]
            TR = out[i - w + 1]  # x == w-1 wraps to this row's first pixel
            if mode == 0:
                pred = (255, 0, 0, 0)
            elif mode == 1:
                pred = tuple(int(c) for c in L)
            elif mode == 2:
                pred = tuple(int(c) for c in T)
            elif mode == 3:
                pred = tuple(int(c) for c in TR)
            elif mode == 4:
                pred = tuple(int(c) for c in TL)
            elif mode == 5:
                pred = tuple(
                    _avg2(_avg2(int(L[c]), int(TR[c])), int(T[c]))
                    for c in range(4)
                )
            elif mode == 6:
                pred = tuple(_avg2(int(L[c]), int(TL[c])) for c in range(4))
            elif mode == 7:
                pred = tuple(_avg2(int(L[c]), int(T[c])) for c in range(4))
            elif mode == 8:
                pred = tuple(_avg2(int(TL[c]), int(T[c])) for c in range(4))
            elif mode == 9:
                pred = tuple(_avg2(int(T[c]), int(TR[c])) for c in range(4))
            elif mode == 10:
                pred = tuple(
                    _avg2(_avg2(int(L[c]), int(TL[c])),
                          _avg2(int(T[c]), int(TR[c])))
                    for c in range(4)
                )
            elif mode == 11:  # Select
                p = [int(L[c]) + int(T[c]) - int(TL[c]) for c in range(4)]
                p_l = sum(abs(p[c] - int(L[c])) for c in range(4))
                p_t = sum(abs(p[c] - int(T[c])) for c in range(4))
                pred = tuple(int(c) for c in (L if p_l < p_t else T))
            elif mode == 12:  # ClampAddSubtractFull
                pred = tuple(
                    clamp(int(L[c]) + int(T[c]) - int(TL[c]))
                    for c in range(4)
                )
            elif mode == 13:  # ClampAddSubtractHalf
                pred = []
                for c in range(4):
                    ave = _avg2(int(L[c]), int(T[c]))
                    # C-truncating division by 2 (toward zero)
                    d = ave - int(TL[c])
                    pred.append(clamp(ave + int(d / 2)))
                pred = tuple(pred)
            else:
                raise VP8LError(f"invalid predictor mode {mode}")
        out[i] = [(int(out[i][c]) + pred[c]) & 255 for c in range(4)]
    return out


def _ct_delta(t: int, c: int) -> int:
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _apply_color_inverse(px: np.ndarray, w: int, h: int, size_bits: int,
                         elems: np.ndarray) -> np.ndarray:
    bs_w = _div_round_up(w, 1 << size_bits)
    out = px
    for i in range(h * w):
        x, y = i % w, i // w
        e = int(elems[(y >> size_bits) * bs_w + (x >> size_bits)])
        g2r = e & 255          # blue channel of the element
        g2b = (e >> 8) & 255   # green channel
        r2b = (e >> 16) & 255  # red channel
        a, r, g, b = (int(c) for c in out[i])
        r = (r + _ct_delta(g2r, g)) & 255
        b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 255
        out[i] = (a, r, g, b)
    return out


def _apply_transforms(argb: np.ndarray, xsize: int, h: int,
                      transforms: list[tuple]) -> tuple[np.ndarray, int]:
    """flat 0xAARRGGBB -> (h*w, 4) uint8 after inverse transforms."""
    px = np.stack(
        [(argb >> 24) & 255, (argb >> 16) & 255,
         (argb >> 8) & 255, argb & 255], axis=1
    ).astype(np.int64)
    w = xsize
    for t in reversed(transforms):
        if t[0] == "palette":
            _, wb, table, orig_w = t
            if wb == 0:
                idx = px[:, 2]
                safe = np.clip(idx, 0, len(table) - 1)
                mapped = table[safe].astype(np.int64)
                mapped[idx >= len(table)] = 0
                px = mapped
                w = orig_w
            else:
                per = 1 << wb
                bits = 8 >> wb
                rows = px[:, 2].reshape(h, w)
                full = np.zeros((h, orig_w, 4), dtype=np.int64)
                for sub in range(per):
                    idx = (rows >> (sub * bits)) & ((1 << bits) - 1)
                    xs = np.arange(w) * per + sub
                    keep = xs < orig_w
                    safe = np.clip(idx[:, keep], 0, len(table) - 1)
                    mapped = table[safe].astype(np.int64)
                    mapped[idx[:, keep] >= len(table)] = 0
                    full[:, xs[keep]] = mapped
                px = full.reshape(h * orig_w, 4)
                w = orig_w
        elif t[0] == "subtract_green":
            g = px[:, 2]
            px[:, 1] = (px[:, 1] + g) & 255
            px[:, 3] = (px[:, 3] + g) & 255
        elif t[0] == "predictor":
            _, size_bits, modes, _tw = t
            px = _apply_predictor_inverse(px, w, h, size_bits, modes)
        elif t[0] == "color":
            _, size_bits, elems, _tw = t
            px = _apply_color_inverse(px, w, h, size_bits, elems)
    return px.astype(np.uint8), w


# ---------------------------------------------------------------------------
# container + public API
# ---------------------------------------------------------------------------


def decode_vp8l(data: bytes) -> np.ndarray:
    """Decode a raw VP8L chunk payload -> uint8 (h, w, 4) ARGB columns as
    (a, r, g, b)."""
    if not data or data[0] != 0x2F:
        raise VP8LError("bad VP8L signature")
    br = BitReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha hint
    if br.read(3) != 0:
        raise VP8LError("unsupported VP8L version")
    argb, xsize, transforms = decode_image_stream(br, w, h, True)
    px, final_w = _apply_transforms(argb, xsize, h, transforms)
    if final_w != w:
        raise VP8LError("width mismatch after transforms")
    return px.reshape(h, w, 4)


_LIBWEBP_CACHE: list = []  # [lib] once loaded; [None] once known-absent


def _system_libwebp():
    """dlopen the system libwebp ONCE per process (decode_image calls this
    per media row inside mapInPandas kernels) across the usual sonames."""
    import ctypes

    if not _LIBWEBP_CACHE:
        lib = None
        for name in ("libwebp.so.7", "libwebp.so", "libwebp.7.dylib",
                     "libwebp.dylib"):
            try:
                lib = ctypes.CDLL(name)
                break
            except OSError:
                continue
        if lib is not None:
            lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
        _LIBWEBP_CACHE.append(lib)
    return _LIBWEBP_CACHE[0]


def _system_libwebp_decode_rgb(payload: bytes) -> np.ndarray:
    """OPTIONAL system-library plugin for lossy VP8: decode the whole WebP
    container with libwebp via ctypes (WebPDecodeRGBA handles simple
    and extended files, alpha included). This is the plugin boundary the
    stub documented — made functional where the system ships libwebp;
    absence still raises NotImplementedError so environments without the
    library keep the decoded=false fallback."""
    import ctypes

    lib = _system_libwebp()
    if lib is None:
        raise NotImplementedError(
            "lossy WebP needs the system libwebp plugin (no libwebp "
            "shared library found); only VP8L lossless decodes natively"
        )
    w, h = ctypes.c_int(0), ctypes.c_int(0)
    out = lib.WebPDecodeRGBA(
        payload, ctypes.c_size_t(len(payload)), ctypes.byref(w), ctypes.byref(h)
    )
    if not out:
        raise VP8LError("libwebp could not decode the lossy payload")
    try:
        n = w.value * h.value * 4
        arr = np.frombuffer(
            bytes(bytearray(ctypes.cast(out, ctypes.POINTER(ctypes.c_uint8 * n)).contents)),
            dtype=np.uint8,
        ).reshape(h.value, w.value, 4)
    finally:
        lib.WebPFree(out)
    return arr[:, :, :3].copy()


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a WebP file -> uint8 (h, w, 3) RGB (alpha dropped, matching
    the other image decoders' convention). Lossless (VP8L) decodes
    natively, including inside a VP8X extended container; lossy (VP8)
    routes through the optional system-libwebp plugin and raises
    NotImplementedError when the library is absent — the same plugin
    boundary as MP3/H.264."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise VP8LError("not a WebP RIFF container")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)[:, :, 1:4]
        if tag == b"VP8 ":
            return _system_libwebp_decode_rgb(payload)
        # VP8X: extended header chunk — keep scanning; a lossless file's
        # VP8L chunk follows (raising here made extended-lossless files
        # undecodable for no reason)
        pos += 8 + size + (size & 1)
    raise VP8LError("no VP8L or VP8 chunk found")


def decode_vp8l_alpha(alph: bytes, w: int, h: int) -> np.ndarray:
    """Decode a WebP ALPH chunk payload -> uint8 (h, w) alpha plane.

    Per the WebP container spec, byte 0 carries (compression_method,
    filtering_method, pre_processing) in 2-bit fields. Compression 1 is a
    HEADERLESS VP8L image stream (no signature / size / version — decoding
    starts at the level-0 transform bits, dimensions come from the
    container) whose GREEN channel holds the alpha values; compression 0
    is w*h raw bytes. The optional alpha filter (horizontal / vertical /
    gradient) is inverted afterwards. This is the one place a REAL
    libwebp-encoded VP8L bitstream exists in common containers, so it
    doubles as the decoder's interop surface (tests/test_vp8l.py)."""
    if not alph:
        raise VP8LError("empty ALPH payload")
    b0 = alph[0]
    compression = b0 & 3
    filtering = (b0 >> 2) & 3
    if compression == 0:
        flat = np.frombuffer(alph[1:1 + w * h], dtype=np.uint8)
        if flat.size != w * h:
            raise VP8LError("raw ALPH payload shorter than w*h")
        plane = flat.astype(np.int64)
    elif compression == 1:
        br = BitReader(alph[1:])
        argb, xsize, transforms = decode_image_stream(br, w, h, True)
        px, final_w = _apply_transforms(argb, xsize, h, transforms)
        if final_w != w:
            raise VP8LError("ALPH width mismatch after transforms")
        plane = px.reshape(h, w, 4)[:, :, 2].astype(np.int64).reshape(-1)
    else:
        raise VP8LError(f"reserved ALPH compression method {compression}")
    if filtering in (1, 2):
        # horizontal/vertical are linear mod-256 prefix sums — vectorize
        # (a 1M-px plane would cost seconds as a scalar loop). Boundary
        # rules: top row always predicts LEFT, left column always
        # predicts TOP, (0,0) predicts 0.
        p2 = plane.reshape(h, w)
        out2 = np.zeros((h, w), dtype=np.int64)
        if filtering == 1:  # horizontal
            # left column accumulates down (top rule), rows accumulate right
            out2[:, 0] = np.cumsum(p2[:, 0]) & 255
            if w > 1:
                row_base = out2[:, 0][:, None]
                out2[:, 1:] = (
                    np.cumsum(p2[:, 1:], axis=1) + row_base
                ) & 255
        else:  # vertical
            # top row accumulates right (left rule), columns accumulate down
            out2[0, :] = np.cumsum(p2[0, :]) & 255
            if h > 1:
                col_base = out2[0, :][None, :]
                out2[1:, :] = (
                    np.cumsum(p2[1:, :], axis=0) + col_base
                ) & 255
        plane = out2.reshape(-1)
    elif filtering == 3:  # gradient: clamped, non-linear -> scalar loop
        out = np.zeros(w * h, dtype=np.int64)
        for i in range(w * h):
            x, y = i % w, i // w
            if x == 0 and y == 0:
                pred = 0
            elif y == 0:
                pred = int(out[i - 1])  # top row always predicts left
            elif x == 0:
                pred = int(out[i - w])  # left column always predicts top
            else:
                g = int(out[i - 1]) + int(out[i - w]) - int(out[i - w - 1])
                pred = max(0, min(255, g))
            out[i] = (int(plane[i]) + pred) & 255
        plane = out
    return plane.astype(np.uint8).reshape(h, w)


def decode_webp_alpha(payload: bytes) -> np.ndarray | None:
    """Extract the (h, w) alpha plane from an extended (VP8X) WebP's ALPH
    chunk, or the 4th channel of a bare VP8L image. Returns None when the
    container carries no alpha. The RGB of a lossy VP8X file still needs
    the external-codec plugin; the alpha side-channel is fully native."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise VP8LError("not a WebP RIFF container")
    pos = 12
    dims = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"VP8X":
            cw = 1 + int.from_bytes(body[4:7], "little")
            ch_ = 1 + int.from_bytes(body[7:10], "little")
            dims = (cw, ch_)
        elif tag == b"ALPH":
            if dims is None:
                raise VP8LError("ALPH chunk before VP8X dimensions")
            return decode_vp8l_alpha(bytes(body), dims[0], dims[1])
        elif tag == b"VP8L":
            return decode_vp8l(body)[:, :, 0]
        pos += 8 + size + (size & 1)
    return None


def encode_webp_lossless(
    arr: np.ndarray,
    subtract_green: bool = False,
    use_palette: bool | None = None,
    min_run: int = 4,
) -> bytes:
    """Encode uint8 (h, w, 3) RGB (or (h, w, 4) ARGB-order (a,r,g,b)) as a
    lossless WebP: canonical prefix codes over literals + distance-1 run
    backreferences (runs emitted through the EXTENDED distance code 121,
    deliberately independent of the short-distance map so encoder bugs in
    that table cannot self-mask), optional subtract-green transform,
    optional color-indexing transform (auto when <= 16 distinct colors and
    use_palette is None)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.stack([a, a, a], axis=2)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("encode_webp_lossless takes (h, w, 3|4) uint8")
    h, w, ch = a.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("dimensions out of VP8L range")
    if ch == 3:
        px = np.concatenate(
            [np.full((h, w, 1), 255, np.uint8), a], axis=2
        ).astype(np.int64)
    else:
        px = a.astype(np.int64)

    bw = BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version

    colors = {tuple(int(c) for c in p) for p in px.reshape(-1, 4)}
    if use_palette is None:
        use_palette = len(colors) <= 16
    if use_palette and len(colors) > 256:
        raise ValueError("palette mode needs <= 256 distinct colors")

    if use_palette:
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        table = sorted(colors)
        n_colors = len(table)
        bw.write(n_colors - 1, 8)
        # palette stream: delta-coded entries as a 1-row literal image
        deltas = []
        prev = (0, 0, 0, 0)
        for e in table:
            deltas.append(tuple((e[i] - prev[i]) & 255 for i in range(4)))
            prev = e
        _write_literal_stream(
            bw, np.array(deltas, dtype=np.int64).reshape(1, n_colors, 4),
            min_run=0, level0=False,
        )
        lut = {e: i for i, e in enumerate(table)}
        idx = np.array(
            [lut[tuple(int(c) for c in p)] for p in px.reshape(-1, 4)],
            dtype=np.int64,
        ).reshape(h, w)
        wb = 3 if n_colors <= 2 else 2 if n_colors <= 4 else \
            1 if n_colors <= 16 else 0
        if wb:
            per = 1 << wb
            bits = 8 >> wb
            rw = _div_round_up(w, per)
            packed = np.zeros((h, rw), dtype=np.int64)
            for sub in range(per):
                xs = np.arange(rw) * per + sub
                keep = xs < w
                packed[:, keep] |= idx[:, xs[keep]] << (sub * bits)
        else:
            packed = idx
            rw = w
        px = np.zeros((h, packed.shape[1], 4), dtype=np.int64)
        px[:, :, 0] = 255
        px[:, :, 2] = packed
    else:
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)
            g = px[:, :, 2]
            px = px.copy()
            px[:, :, 1] = (px[:, :, 1] - g) & 255
            px[:, :, 3] = (px[:, :, 3] - g) & 255
    bw.write(0, 1)  # no more transforms
    _write_literal_stream(bw, px, min_run=min_run)

    data = b"\x2f" + bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _write_literal_stream(bw: BitWriter, px: np.ndarray,
                          min_run: int = 4, level0: bool = True) -> None:
    """Write one entropy-coded image: no cache, no meta, literals plus
    distance-1 runs of length >= min_run (0 disables runs)."""
    h, w, _ = px.shape
    flat = px.reshape(-1, 4)
    n = len(flat)
    # tokenize: (kind, payload)
    tokens: list[tuple] = []
    i = 0
    while i < n:
        if min_run and i > 0 and tuple(flat[i]) == tuple(flat[i - 1]):
            run = 1
            while i + run < n and tuple(flat[i + run]) == tuple(flat[i - 1]):
                run += 1
            if run >= min_run:
                # VP8L's length alphabet (24 prefix codes) tops out at
                # 4096; longer runs must be split into multiple copies or
                # the green-channel symbol overflows the serialized code
                run = min(run, 4096)
                tokens.append(("copy", run))
                i += run
                continue
        tokens.append(("lit", tuple(int(c) for c in flat[i])))
        i += 1
    # histograms
    hist = [dict() for _ in range(5)]

    def bump(d, s):
        d[s] = d.get(s, 0) + 1

    for kind, v in tokens:
        if kind == "lit":
            a, r, g, b = v
            bump(hist[0], g)
            bump(hist[1], r)
            bump(hist[2], b)
            bump(hist[3], a)
        else:
            lcode, _, _ = prefix_value_encode(v)
            bump(hist[0], 256 + lcode)
            dcode, _, _ = prefix_value_encode(121)  # extended dist 1
            bump(hist[4], dcode)
    for d, default in zip(hist, (0, 0, 0, 255, 0)):
        if not d:
            d[default] = 1
    bw.write(0, 1)  # no color cache
    if level0:
        bw.write(0, 1)  # no meta prefix codes (level0-only field)
    alph = [256 + 24, 256, 256, 256, 40]
    codes = []
    for d, n_alph in zip(hist, alph):
        lens = limited_lengths(d)
        codes.append(write_prefix_code(bw, lens, n_alph))
    cg, cr, cb, ca, cd = codes
    for kind, v in tokens:
        if kind == "lit":
            a, r, g, b = v
            c, ln = cg[g]
            bw.write_code(c, ln)
            c, ln = cr[r]
            bw.write_code(c, ln)
            c, ln = cb[b]
            bw.write_code(c, ln)
            c, ln = ca[a]
            bw.write_code(c, ln)
        else:
            lcode, lextra, lnbits = prefix_value_encode(v)
            c, ln = cg[256 + lcode]
            bw.write_code(c, ln)
            bw.write(lextra, lnbits)
            dcode, dextra, dnbits = prefix_value_encode(121)
            c, ln = cd[dcode]
            bw.write_code(c, ln)
            bw.write(dextra, dnbits)
