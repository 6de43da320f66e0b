"""Pure-numpy lossless WebP (VP8L) codec — the last payload format of
the matrix (VERDICT r05 #6; png/qjpg/real-JPEG/QVID already have own
codecs since r1-r5; the sandbox has no libwebp/PIL).

Authored from the PUBLIC WebP Lossless Bitstream Specification
(RFC 9649, section 3 "RIFF Container" and section 4 "Lossless
bitstream"); reference parity target is the same as the other codecs:
the crawl engine's payload invariant (input_hint: decoded-pixel
allclose; lossless ⇒ exact equality) on the image+caption corpus.

Encoder (``encode_webp``): literal-pixel spatially coded streams (no
color cache or meta prefix codes) behind an optional transform:
SUBTRACT_GREEN by default, or the opt-in COLOR_INDEXING palette
profile (``palette=True``, ≤256 distinct colors — delta-coded entries
+ bundled indices, so ≤16-color images code at 1/2-1/8 width), plus
an opt-in LZ77 profile (``lz77=True``: greedy dist-1/dist-width run
matching — repeated rows and horizontal runs collapse to one
length+distance token). Each of the five prefix codes is either a
"simple" code (≤2 symbols) or a normal code-length-coded canonical
prefix code. These are strictly spec-compliant streams: any
conformant WebP decoder reads them.

Decoder (``decode_webp``): the FULL VP8L lossless bitstream (r7) —
all four transforms (predictor with the 14 spatial modes,
cross-color, subtract-green, color-indexing with pixel bundling),
meta prefix codes (per-tile entropy groups via the recursive
entropy-image stream), color cache, LZ77 with both 1D (plane
code > 120) and 2D (plane code ≤ 120, the spec's 120-entry
neighborhood offset map) distances, the max_symbol cutoff, and RLE
code lengths (16/17/18), in a simple (VP8L) or extended (VP8X still
image) container — pixel-neutral VP8X metadata chunks
(ICCP/EXIF/XMP) are skipped. The remaining boundaries fail LOUDLY
with the reason (lossy VP8/ALPH, animated VP8X, non-opaque DECODED
alpha — the crawl corpus is RGB) — never a silent wrong decode.

Cache-less single-group streams (every own-encoded file and the
common foreign shape) decode on fully vectorized numpy paths:
15-bit-window LUTs decode SPECULATIVELY at every bit position, and
pointer doubling over the per-position transition map recovers the
true start positions in log2(n) gathers — at the pixel level for
literal-only streams (``_literal_decode_fast``) and at the TOKEN
level when the green code carries LZ77 length symbols
(``_lz77_decode_fast``: literals scatter in one gather, backward
references apply per token as slice/tile copies).
``FAST_LITERAL=False`` pins the per-pixel reference loop, and the
paths are pinned bit-identical by tests/test_webpcodec.py.

Bit order is LSB-first within bytes (DEFLATE-style); canonical prefix
codes are read bit-by-bit MSB-of-code-first, exactly the DEFLATE
canonical construction (RFC 9649 §4.1.1)."""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_webp", "decode_webp"]

# green-channel alphabet: 256 literals + 24 length prefixes (+ cache)
_NUM_LENGTH_PREFIXES = 24
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


# ---------------------------------------------------------------- bits


class _BitWriter:
    """LSB-first bit packer. ``acc`` is truncated as bytes drain (the
    r5 jpegcodec O(n²) bigint-accumulator lesson, jpegcodec.py:176)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """Canonical prefix code: MSB of the code goes first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("webp: truncated VP8L bitstream")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


# ------------------------------------------------- canonical prefix code


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), DEFLATE canonical assignment."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    next_code = [0] * (max_len + 2)
    code = 0
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _Decoder:
    """Bit-by-bit canonical prefix decoder (code read MSB-first).
    ``code_map`` (symbol -> (code, length)) is kept for the vectorized
    literal fast path's LUT build."""

    __slots__ = ("table", "single", "code_map")

    def __init__(self, lengths: list[int]):
        nz = [(s, ln) for s, ln in enumerate(lengths) if ln]
        if not nz:
            raise ValueError("webp: prefix code with no symbols")
        if len(nz) == 1:
            # one symbol: zero-bit code
            self.single = nz[0][0]
            self.table = None
            self.code_map = {self.single: (0, 0)}
            return
        # over-subscribed / incomplete codes are corrupt
        if sum(1 << (max(ln for _, ln in nz) - ln) for _, ln in nz) != (
            1 << max(ln for _, ln in nz)
        ):
            raise ValueError("webp: invalid (non-complete) prefix code")
        self.single = None
        self.code_map = _canonical_codes(lengths)
        self.table = {(ln, code): sym for sym, (code, ln) in self.code_map.items()}

    @classmethod
    def simple(cls, symbols: list[int]):
        self = cls.__new__(cls)
        if len(symbols) != len(set(symbols)):
            raise ValueError("webp: duplicate simple-code symbols")
        if len(symbols) == 1:
            self.single = symbols[0]
            self.table = None
            self.code_map = {symbols[0]: (0, 0)}
        else:
            self.single = None
            self.table = {(1, 0): symbols[0], (1, 1): symbols[1]}
            self.code_map = {symbols[0]: (0, 1), symbols[1]: (1, 1)}
        return self

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        table = self.table
        while True:
            code = (code << 1) | br.read(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
            if length > 15:
                raise ValueError("webp: prefix code longer than 15 bits")


# ------------------------------------------------------- length-limited


def _huffman_lengths(freqs: np.ndarray, max_len: int) -> list[int]:
    """Canonical Huffman code lengths from symbol frequencies, capped
    at ``max_len`` with the standard overflow fixup (zlib-style: move
    over-deep leaves up, paying by deepening the shallowest deep
    node). Zero-frequency symbols get length 0."""
    max_len = int(max_len)  # numpy ints break the 2**(max_len-l) sums
    syms = [int(s) for s in np.nonzero(freqs)[0]]
    if len(syms) <= 1:
        return [1 if s in syms else 0 for s in range(len(freqs))]
    # standard heap huffman, then the zlib-style depth-cap fixup below
    import heapq

    heap = [(int(freqs[s]), s, None, None) for s in syms]
    heapq.heapify(heap)
    nodes = []
    while len(heap) > 1:
        a = heapq.heappop(heap)
        b = heapq.heappop(heap)
        node = (a[0] + b[0], -(len(nodes) + 1), a, b)
        nodes.append(node)
        heapq.heappush(heap, node)
    lengths = [0] * len(freqs)

    def walk(node, depth):
        if node[2] is None:
            lengths[node[1]] = max(1, depth)
            return
        walk(node[2], depth + 1)
        walk(node[3], depth + 1)

    walk(heap[0], 0)
    # overflow fixup
    while max(lengths) > max_len:
        # take one leaf at depth > max_len up to max_len, and push the
        # deepest leaf shallower than max_len one level down
        over = max(range(len(lengths)), key=lambda s: lengths[s])
        lengths[over] = max_len
        # restore Kraft: find a leaf with length < max_len to deepen
        cand = max(
            (s for s in syms if lengths[s] < max_len),
            key=lambda s: lengths[s],
        )
        lengths[cand] += 1
        # re-check Kraft sum; loop until the code is feasible
        # float exponent on purpose: leaves still deeper than max_len
        # contribute fractional Kraft mass (2.0**-k) mid-fixup
        while sum(2.0 ** (max_len - lengths[s]) for s in syms) > 2**max_len:
            cand = max(
                (s for s in syms if lengths[s] < max_len),
                key=lambda s: lengths[s],
            )
            lengths[cand] += 1
    # tighten: if Kraft sum is under capacity, shorten the longest code
    kraft = sum(2 ** (max_len - lengths[s]) for s in syms)
    while True:
        slack = 2**max_len - kraft
        cand = None
        for s in sorted(syms, key=lambda s: -lengths[s]):
            gain = 2 ** (max_len - (lengths[s] - 1)) - 2 ** (max_len - lengths[s])
            if lengths[s] > 1 and gain <= slack:
                cand = (s, gain)
                break
        if cand is None:
            break
        lengths[cand[0]] -= 1
        kraft += cand[1]
    return lengths


# ------------------------------------------------------------- encoder


def _write_prefix_code(bw: _BitWriter, lengths: list[int]):
    """Write one prefix code: simple form for ≤2 symbols, else the
    code-length-coded normal form (no RLE, no max_symbol — both are
    decoder-side features)."""
    used = [s for s in range(len(lengths)) if lengths[s]]
    if 0 < len(used) <= 2 and all(s <= 255 for s in used):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        if used[0] <= 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        return
    bw.write(0, 1)  # normal
    # code-length code over the 19 cl symbols (we emit no 16/17/18)
    cl_freq = np.zeros(19, dtype=np.int64)
    for ln in lengths:
        cl_freq[ln] += 1
    cl_lengths = _huffman_lengths(cl_freq, 7)
    # num_code_lengths: write all 19 in _CL_ORDER (4 + 15)
    bw.write(15, 4)
    for sym in _CL_ORDER:
        bw.write(cl_lengths[sym], 3)
    bw.write(0, 1)  # no max_symbol cutoff
    # single-symbol prefix codes consume ZERO bits on read (spec /
    # libwebp canonical behavior — the reason the 1-symbol simple
    # variant exists) — the writer must emit zero bits to match
    if sum(1 for v in cl_lengths if v) == 1:
        return
    cl_codes = _canonical_codes(cl_lengths)
    for ln in lengths:
        code, clen = cl_codes[ln]
        bw.write_code(code, clen)


def _palette_width_bits(n_colors: int) -> int:
    """COLOR_INDEXING bundling width (RFC 9649 §4.4.4): how many bits
    each packed index takes is 8 >> wb, so wb=3 packs 8 indices per
    coded pixel (<=2 colors), wb=2 packs 4 (<=4), wb=1 packs 2
    (<=16), wb=0 none. Shared by encoder and decoder so the rule can
    never drift between them."""
    return 3 if n_colors <= 2 else 2 if n_colors <= 4 else (1 if n_colors <= 16 else 0)


def _write_literal_image(bw: _BitWriter, g, r, b, a, level0: bool) -> None:
    """Write one literal-only spatially-coded image (RFC 9649 §4.3.2):
    cache off, no meta prefix codes (sub-resolution images carry no
    meta bit at all), one histogram-built canonical prefix code per
    channel, then the pixel codes in g, r, b, a stream order.
    Channels are flat uint8 arrays of equal length."""
    bw.write(0, 1)  # no color cache
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    green_hist = np.zeros(256 + _NUM_LENGTH_PREFIXES, dtype=np.int64)
    np.add.at(green_hist, g, 1)
    dist_hist = np.zeros(40, dtype=np.int64)
    dist_hist[0] = 1  # unused -> 1-symbol simple code
    codes = []
    for hist in (
        green_hist,
        np.bincount(r, minlength=256).astype(np.int64),
        np.bincount(b, minlength=256).astype(np.int64),
        np.bincount(a, minlength=256).astype(np.int64),
        dist_hist,
    ):
        lengths = _huffman_lengths(hist, 15)
        _write_prefix_code(bw, lengths)
        # single-symbol codes read as ZERO bits — write nothing for them
        codes.append(
            _canonical_codes(lengths) if sum(1 for v in lengths if v) > 1 else None
        )
    chans = [
        (vals.tolist(), cm)
        for vals, cm in zip((g, r, b, a), codes[:4])
        if cm is not None
    ]
    for i in range(len(g)):
        for vals, cm in chans:
            c, ln = cm[vals[i]]
            bw.write_code(c, ln)


def _write_lz77_image(bw: _BitWriter, g, r, b, a, width: int) -> None:
    """Write one spatially-coded image with greedy LZ77 run matching
    (RFC 9649 §4.2.2; cache off, no meta prefix codes): vectorized
    dist-1 / dist-width run detection, then literal tokens elsewhere.
    Those two distances cover the run-fill idioms (horizontal runs and
    repeated rows) that dominate repetitive images; both are emitted
    as 1D distances (plane code = dist + 120). The token loop is
    per-TOKEN, not per pixel — a long run is one green length code +
    one distance code."""
    n = len(g)
    px = np.stack([g, r, b, a], axis=1)
    eq1 = np.zeros(n, dtype=bool)
    if n > 1:
        eq1[1:] = (px[1:] == px[:-1]).all(axis=1)
    eqw = np.zeros(n, dtype=bool)
    if n > width:
        eqw[width:] = (px[width:] == px[:-width]).all(axis=1)

    def _runlen(e: np.ndarray) -> np.ndarray:
        # out[i] = length of the consecutive-True run starting at i:
        # cumsum minus the cumsum at the last False, on the reversed
        # array (run ending at i reversed = run starting at i)
        rev = e[::-1].astype(np.int64)
        cs = np.cumsum(rev)
        reset = np.maximum.accumulate(np.where(rev == 0, cs, 0))
        return (cs - reset)[::-1]

    run1 = _runlen(eq1)
    runw = _runlen(eqw)
    # a copy costs ~(length code + distance code + extras); only take
    # runs long enough to beat the literals they replace
    min_run = 4
    tokens: list[tuple] = []  # ("l", pixel index) | ("c", length, dist)
    i = 0
    while i < n:
        ln1, lnw = int(run1[i]), int(runw[i])
        ln, d = (ln1, 1) if ln1 >= lnw else (lnw, width)
        if ln >= min_run:
            ln = min(ln, _MAX_LZ77_LEN)
            tokens.append(("c", ln, d))
            i += ln
        else:
            tokens.append(("l", i))
            i += 1

    green_hist = np.zeros(256 + _NUM_LENGTH_PREFIXES, dtype=np.int64)
    r_hist = np.zeros(256, dtype=np.int64)
    b_hist = np.zeros(256, dtype=np.int64)
    a_hist = np.zeros(256, dtype=np.int64)
    dist_hist = np.zeros(40, dtype=np.int64)
    coded: list[tuple] = []
    for tok in tokens:
        if tok[0] == "l":
            j = tok[1]
            green_hist[g[j]] += 1
            r_hist[r[j]] += 1
            b_hist[b[j]] += 1
            a_hist[a[j]] += 1
            coded.append(tok)
            continue
        _kind, ln, d = tok
        lcode, lbits, lextra = _prefix_encode_value(ln)
        dcode, dbits, dextra = _prefix_encode_value(d + 120)  # 1D distance
        if lcode >= _NUM_LENGTH_PREFIXES or dcode >= 40:
            raise ValueError("webp: LZ77 token out of prefix range")
        green_hist[256 + lcode] += 1
        dist_hist[dcode] += 1
        coded.append(("c", lcode, lbits, lextra, dcode, dbits, dextra))
    if not dist_hist.any():
        dist_hist[0] = 1  # unused -> 1-symbol simple code

    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes
    codes = []
    for hist in (green_hist, r_hist, b_hist, a_hist, dist_hist):
        lengths = _huffman_lengths(hist, 15)
        _write_prefix_code(bw, lengths)
        # single-symbol codes read as ZERO bits — write nothing for them
        codes.append(
            _canonical_codes(lengths) if sum(1 for v in lengths if v) > 1 else None
        )
    gc, rc, bc, ac, dc = codes

    def _emit(cm, sym):
        if cm is not None:
            bw.write_code(*cm[sym])

    for tok in coded:
        if tok[0] == "l":
            j = tok[1]
            _emit(gc, g[j])
            _emit(rc, r[j])
            _emit(bc, b[j])
            _emit(ac, a[j])
        else:
            _kind, lcode, lbits, lextra, dcode, dbits, dextra = tok
            _emit(gc, 256 + lcode)
            if lbits:
                bw.write(lextra, lbits)
            _emit(dc, dcode)
            if dbits:
                bw.write(dextra, dbits)


def _auto_profile(arr: np.ndarray) -> str:
    """Pick the encode profile from cheap image stats (VERDICT r08
    #4): each of the three spec-compliant profiles dominates a
    different image family in the fixture sweep (BENCH.md r9 codec
    table) — palette on low-color art, lz77 on banded/run-heavy
    images, literal on noise. Stats used:

    * run ratio — fraction of pixels equal to their LEFT or ABOVE
      neighbor, the two distances the greedy lz77 profile codes; a
      high ratio means backward references collapse most of the
      stream (measured 7.6x smaller on banded fixtures).
    * distinct colors — <=256 admits the COLOR_INDEXING profile;
      <=16 additionally bundles 2-8 indices per coded pixel, which
      beats lz77 unless runs dominate outright. A 4,096-pixel sample
      screens before the exact O(n log n) unique pass so high-color
      photos never pay it.

    Thresholds from the profile sweep (now the corpus of
    test_auto_profile_within_tolerance_of_best): runs
    >=0.85 -> lz77 even when a palette exists (measured on banded
    images: lz77 110-244 B vs palette 1,066-16,612 B — references
    beat bundled indices at EVERY palette size >= 2; the single
    exception is a 1-color image, where the palette stream's
    zero-bit indices win 38 vs 82 B); else any palette wins (bundled
    indices ride the vectorized literal path at 1/2-1/8 width); else
    runs >=0.4 -> lz77 still pays (tokens shrink the stream even
    between literals); else literal."""
    h, w, _ = arr.shape
    left = float(np.mean(np.all(arr[:, 1:] == arr[:, :-1], axis=2))) if w > 1 else 0.0
    up = float(np.mean(np.all(arr[1:] == arr[:-1], axis=2))) if h > 1 else 0.0
    run = max(left, up)
    px = arr.reshape(-1, 3)
    sample = px[:: max(1, px.shape[0] // 4096)]
    packed_s = (
        sample[:, 0].astype(np.int32) << 16
        | sample[:, 1].astype(np.int32) << 8
        | sample[:, 2].astype(np.int32)
    )
    n_colors = None
    if np.unique(packed_s).shape[0] <= 256:
        packed = (
            px[:, 0].astype(np.int32) << 16
            | px[:, 1].astype(np.int32) << 8
            | px[:, 2].astype(np.int32)
        )
        n = np.unique(packed).shape[0]
        n_colors = int(n) if n <= 256 else None
    if run >= 0.85:
        return "palette" if n_colors == 1 else "lz77"
    if n_colors is not None:
        return "palette"
    if run >= 0.4:
        return "lz77"
    return "literal"


def encode_webp(
    arr: np.ndarray,
    subtract_green: bool | None = None,
    palette: bool = False,
    lz77: bool = False,
    profile: str | None = None,
) -> bytes:
    """(h, w, 3) uint8 RGB -> lossless WebP (VP8L), literal-only.

    ``subtract_green`` (default on for the literal profile) stores
    (r-g, g, b-g) mod 256 behind
    the spec's SUBTRACT_GREEN transform — typically smaller codes for
    correlated channels, and it makes every own-encoded file (incl.
    the committed fixtures) exercise the decoder's transform-inverse
    path, not just the hand-built test streams.

    ``palette=True`` (opt-in; raises past 256 distinct colors) emits
    the COLOR_INDEXING transform instead: delta-coded palette entries
    plus bundled indices — <=16 colors pack 2-8 indices per coded
    pixel, shrinking both the stream and the decode (the bundled
    image rides the vectorized literal fast path at 1/2-1/8 width,
    then one palette gather). Default off so committed fixture bytes
    stay stable; roundtrip exactness is profile-independent.

    ``lz77=True`` (opt-in) adds greedy dist-1 / dist-width run
    matching (RFC 9649 §4.2.2 backward references) on top of the
    literal profile — long horizontal runs and repeated rows collapse
    to one length+distance token each, and the stream exercises the
    decoder's token-level vectorized LZ77 path with own-encoded real
    files (VERDICT r07 #5).

    ``profile`` (opt-in, VERDICT r08 #4) names the profile instead of
    the flags: "literal" | "palette" | "lz77" | "auto", where "auto"
    picks by cheap image stats (see _auto_profile). Mutually exclusive
    with the explicit flags so every flag-pinned byte stream (the
    committed fixtures) stays reachable and stable; the default
    encoder is unchanged."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_webp expects (h, w, 3) uint8")
    if profile is not None:
        if palette or lz77 or subtract_green is not None:
            raise ValueError(
                "webp: profile= is mutually exclusive with the "
                "palette/lz77/subtract_green flags"
            )
        if profile == "auto":
            profile = _auto_profile(arr)
        if profile not in ("literal", "palette", "lz77"):
            raise ValueError(f"webp: unknown profile {profile!r}")
        return encode_webp(
            arr, palette=(profile == "palette"), lz77=(profile == "lz77")
        )
    if palette and lz77:
        # one profile per stream: bundled palette indices could in
        # principle be LZ77-coded too, but the combination is untested
        # ground — refuse rather than emit an unexercised shape
        raise ValueError(
            "webp: palette=True and lz77=True are mutually exclusive profiles"
        )
    if palette and subtract_green:
        # the profiles are mutually exclusive (ADVICE r07): the palette
        # stream carries raw-RGB entries + indices, so an explicitly
        # requested SUBTRACT_GREEN would be silently dropped — refuse
        raise ValueError(
            "webp: subtract_green=True and palette=True are mutually "
            "exclusive profiles"
        )
    if subtract_green is None:
        subtract_green = not palette
    h, w, _ = arr.shape
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("webp: dimensions out of VP8L range")
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint: unused
    bw.write(0, 3)  # version
    if palette:
        packed24 = (
            arr[:, :, 0].astype(np.int32) << 16
            | arr[:, :, 1].astype(np.int32) << 8
            | arr[:, :, 2].astype(np.int32)
        ).ravel()
        pal_vals, idx = np.unique(packed24, return_inverse=True)
        n_colors = int(pal_vals.shape[0])
        if n_colors > 256:
            raise ValueError(
                f"webp: palette profile needs <=256 distinct colors, got {n_colors}"
            )
        bw.write(1, 1)  # a transform follows
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(n_colors - 1, 8)
        pal = np.stack(
            [
                pal_vals >> 16 & 255,
                pal_vals >> 8 & 255,
                pal_vals & 255,
                np.full(n_colors, 255, dtype=np.int32),
            ],
            axis=1,
        )
        # entries stream delta-coded: first is absolute, rest diffs
        deltas = np.empty_like(pal)
        deltas[0] = pal[0]
        deltas[1:] = (pal[1:] - pal[:-1]) & 255
        deltas = deltas.astype(np.uint8)
        _write_literal_image(
            bw, deltas[:, 1], deltas[:, 0], deltas[:, 2], deltas[:, 3], level0=False
        )
        bw.write(0, 1)  # no more transforms
        wb = _palette_width_bits(n_colors)
        if wb:
            per, bits = 1 << wb, 8 >> wb
            pw = (w + per - 1) // per
            full = np.zeros((h, pw * per), dtype=np.int64)
            full[:, :w] = idx.reshape(h, w)
            shifts = np.arange(per, dtype=np.int64) * bits
            g = (
                (full.reshape(h, pw, per) << shifts).sum(axis=2).astype(np.uint8)
            ).ravel()
        else:
            g = idx.astype(np.uint8)
        zeros = np.zeros(g.shape[0], dtype=np.uint8)
        _write_literal_image(
            bw, g, zeros, zeros, np.full(g.shape[0], 255, np.uint8), level0=True
        )
    else:
        if subtract_green:
            bw.write(1, 1)  # a transform follows
            bw.write(2, 2)  # SUBTRACT_GREEN (no payload)
        bw.write(0, 1)  # no more transforms
        g = arr[:, :, 1].ravel()
        r = arr[:, :, 0].ravel()
        b = arr[:, :, 2].ravel()
        if subtract_green:
            r = (r.astype(np.int16) - g).astype(np.uint8)
            b = (b.astype(np.int16) - g).astype(np.uint8)
        alpha = np.full(w * h, 255, np.uint8)
        if lz77:
            _write_lz77_image(bw, g, r, b, alpha, w)
        else:
            _write_literal_image(bw, g, r, b, alpha, level0=True)
    payload = b"\x2f" + bw.bytes()
    if len(payload) & 1:
        chunk = payload + b"\x00"
    else:
        chunk = payload
    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(payload)) + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ------------------------------------------------------------- decoder


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Decoder:
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        if br.read(1):
            symbols = [br.read(8)]
        else:
            symbols = [br.read(1)]
        if num_symbols == 2:
            symbols.append(br.read(8))
        # a corrupt stream can declare e.g. distance symbol 200 in the
        # 40-symbol alphabet — fail at parse time, not via a garbage
        # downstream read (ADVICE r06)
        if any(s >= alphabet_size for s in symbols):
            raise ValueError(
                f"webp: simple-code symbol out of range (alphabet {alphabet_size})"
            )
        return _Decoder.simple(symbols)
    num_code_lengths = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_code_lengths):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_dec = _Decoder(cl_lengths)
    if br.read(1):  # max_symbol cutoff
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev = 8
    while symbol < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        slen = cl_dec.read(br)
        if slen < 16:
            lengths[symbol] = slen
            symbol += 1
            if slen:
                prev = slen
        else:
            if slen == 16:
                repeat, fill = 3 + br.read(2), prev
            elif slen == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("webp: code-length repeat overflows alphabet")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _Decoder(lengths)


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix decoding (RFC 9649 §4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# ------------------------------------------- vectorized literal decode

# tests can pin the per-pixel reference loop by flipping this off
FAST_LITERAL = True
_PEEK = 15  # spec-maximal code length — one LUT covers every code

# worst-case window slack past n*61 data bits: one token's chain of
# 15-bit LUT gathers (literal: 4 channels) / the LZ77 chain's 18-bit
# extra window — the SINGLE source both fast paths and the
# dispatcher's cap check derive their window from (_fast_window), so
# the gate can never under-estimate what the functions allocate
# (code-review r08 third pass)
_LIT_PAD_BITS = 4 * _PEEK + 8
_LZ77_PAD_BITS = 160


def _fast_window(stream: bytes, start_bit: int, n: int, pad_bits: int):
    """Reachable window for a fast-path decode of ``n`` pixels from
    ``start_bit``: (first byte, relative start bit, window bytes).
    The window is min(remaining stream, worst-case consumption =
    relative start + n*61 bits + pad) — no legitimate decode of n
    pixels can read past it (literal pixel <= 60 bits, LZ77 token
    <= 58), so clamping cannot make a truncation check false-fire."""
    if start_bit > len(stream) * 8:
        raise ValueError("webp: truncated VP8L bitstream")
    byte0 = start_bit >> 3
    rel = start_bit - (byte0 << 3)
    win_bytes = min(len(stream) - byte0, (rel + n * 61 + pad_bits) // 8 + 1)
    return byte0, rel, win_bytes


def _lut_from_code_map(code_map: dict[int, tuple[int, int]]):
    """(sym, len) LUTs over every 15-bit stream window. Window bit j
    (LSB-first stream order) is the j-th bit the bit-reader would
    deliver, i.e. code bit (len-1-j) — so each (code, len) fills the
    2^(15-len) windows whose low ``len`` bits are the code reversed."""
    sym_lut = np.zeros(1 << _PEEK, dtype=np.int32)
    len_lut = np.zeros(1 << _PEEK, dtype=np.int32)
    for s, (code, ln) in code_map.items():
        base = 0
        for j in range(ln):
            base |= ((code >> (ln - 1 - j)) & 1) << j
        idx = base + (np.arange(1 << (_PEEK - ln), dtype=np.int64) << ln)
        sym_lut[idx] = s
        len_lut[idx] = ln
    return sym_lut, len_lut


def _literal_decode_fast(
    stream: bytes, start_bit: int, n: int, decoders
) -> tuple[np.ndarray, int]:
    """Decode ``n`` literal pixels (no LZ77, no color cache) starting
    at ``start_bit`` — fully vectorized, no per-pixel Python loop.

    Variable-length prefix codes have a sequential data dependency, so
    instead of walking the stream we decode SPECULATIVELY at every bit
    position (one LUT gather per channel, complete codes guarantee
    every window decodes to something), build the per-position
    "position after one whole pixel" map f, and recover the true pixel
    start positions by pointer doubling over f — log2(n) gathers
    replace the n-iteration loop. Positions are monotone increasing,
    so one final bound check catches any speculative overrun of the
    stream (equivalent to the bit-reader's truncation error).

    ``decoders`` is the stream-ordered [green, red, blue, alpha] list;
    single-symbol channels consume zero bits and appear only as
    constants. Returns ((n, 4) uint8 rows in R, G, B, A column order,
    ABSOLUTE end bit position) — the caller must advance its bit
    reader to the end position: sub-resolution images (transform
    tiles, palettes, entropy images) are followed by more reads in
    the same stream.

    All per-position arrays are built over the REACHABLE WINDOW only
    (code-review r08): the consumed prefix before ``start_bit`` is
    sliced off (a numpy view, no copy) and the width is clamped to
    the pixel-derived worst case (n pixels x <= 60 bits + one-token
    pad — no legitimate decode can read past it), so memory is
    O(min(remaining stream, pixels)) instead of O(whole buffer), and
    sub-image decodes late in a large payload no longer re-pay
    unpackbits over everything already consumed. Large images are
    decoded in pixel CHUNKS by the dispatcher, so this function's
    window (hence memory) stays bounded at any image size.
    """
    byte0, start_bit, win_bytes = _fast_window(stream, start_bit, n, _LIT_PAD_BITS)
    base_bits = byte0 << 3
    buf = np.frombuffer(stream, dtype=np.uint8)[byte0 : byte0 + win_bytes]
    nbits = win_bytes * 8
    # plausibility gate BEFORE the O(n) allocations: every pixel costs
    # at least the sum of the non-constant channels' shortest codes,
    # so a tiny corrupt stream declaring a huge w*h raises here in
    # O(1) instead of allocating/touching gigabytes first (the
    # per-pixel reference loop gets this for free from its bit reader)
    min_bits = sum(
        min(ln for _c, ln in dec.code_map.values())
        for dec in decoders
        if len(dec.code_map) > 1
    )
    if min_bits == 0:
        # all four channels are single-symbol zero-bit codes: the
        # image is constant — emit it directly (no stream bits read)
        out = np.empty((n, 4), dtype=np.uint8)
        col_of = (1, 0, 2, 3)
        for ci, dec in enumerate(decoders):
            out[:, col_of[ci]] = next(iter(dec.code_map))
        return out, base_bits + start_bit
    if start_bit + n * min_bits > nbits:
        raise ValueError("webp: truncated VP8L bitstream")
    bits = np.unpackbits(buf, bitorder="little")
    pad = 4 * _PEEK + 1  # one pixel's worst case past the end
    M = nbits + pad
    bitsp = np.concatenate([bits, np.zeros(pad + _PEEK, dtype=np.uint8)])
    peek = np.zeros(M, dtype=np.int32)
    for j in range(_PEEK):
        peek |= bitsp[j : j + M].astype(np.int32) << j
    # per-channel speculative (symbol, advance) at every bit position
    chans: list[tuple] = []  # (sym_at | None, len_at | None, const)
    limit = M - 1
    for dec in decoders:
        if len(dec.code_map) == 1:
            chans.append((None, None, next(iter(dec.code_map))))
            continue
        sym_lut, len_lut = _lut_from_code_map(dec.code_map)
        chans.append((sym_lut[peek], len_lut[peek], None))
    # f[p] = position after decoding one full pixel starting at p
    q = np.arange(M, dtype=np.int32)
    for sym_at, len_at, const in chans:
        if const is None:
            q = np.minimum(q + len_at[np.minimum(q, limit)], limit)
    # pointer doubling: P[k:2k] = (k-pixel transition)[P[:k]]
    P = np.empty(n, dtype=np.int32)
    P[0] = min(start_bit, limit)
    filled = 1
    jump = q
    while filled < n:
        take = min(filled, n - filled)
        P[filled : filled + take] = jump[P[:take]]
        filled += take
        if filled < n:
            jump = jump[np.minimum(jump, limit)]
    out = np.empty((n, 4), dtype=np.uint8)
    col_of = (1, 0, 2, 3)  # stream order g,r,b,a -> columns R,G,B,A
    pos = P.astype(np.int64)
    for ci, (sym_at, len_at, const) in enumerate(chans):
        if const is not None:
            out[:, col_of[ci]] = const
            continue
        pc = np.minimum(pos, limit)
        out[:, col_of[ci]] = sym_at[pc]
        pos = pos + len_at[pc]
    if int(pos[-1]) > nbits:
        raise ValueError("webp: truncated VP8L bitstream")
    return out, base_bits + int(pos[-1])


# LZ77 length prefix 23 reaches (3 << 10) + 1023 + 1 = 4096 pixels —
# the spec-maximal single-token emission (RFC 9649 §4.2.2)
_MAX_LZ77_LEN = 4096

# the fast paths build per-bit-position arrays over their REACHABLE
# WINDOW (min(remaining stream, n*61 bits), via _fast_window — both
# functions slice to it): ~45 bytes/bit literal, ~90 bytes/bit LZ77.
# Literal streams chunk by pixels (independent), so only the
# unchunkable LZ77 path needs a cap: past it the per-pixel reference
# loop (O(pixels) memory) decodes instead (code-review r08 x2: the
# first cap measured the remaining suffix while the arrays covered
# the whole buffer, and left the literal path uncapped). 256 KiB
# window ≈ 180 MB peak; own payload images are far below it.
_FAST_DECODE_MAX_BYTES = 256 * 1024
_FAST_LITERAL_CHUNK = 1 << 15  # pixels per literal chunk: 32k px x 61
# worst-case bits = a <=250 KiB window (~90 MB of arrays) per chunk;
# the 192x128 payload shape stays single-chunk


def _prefix_encode_value(v: int) -> tuple[int, int, int]:
    """Inverse of _prefix_value: value -> (prefix code, n extra bits,
    extra value). Values 1..4 are codes 0..3 with no extra bits; past
    that code 2e+2 covers [2<<e, 3<<e) and 2e+3 covers [3<<e, 4<<e)
    of t = value-1, with e low bits of t as the extra."""
    t = v - 1
    if t < 4:
        return t, 0, 0
    e = t.bit_length() - 2
    if t < (3 << e):
        return 2 * e + 2, e, t - (2 << e)
    return 2 * e + 3, e, t - (3 << e)


def _lz77_decode_fast(
    stream: bytes, start_bit: int, n: int, group, width: int
) -> tuple[np.ndarray, int]:
    """Decode ``n`` pixels of a cache-less single-group stream that MAY
    carry LZ77 backward references — vectorized at the TOKEN level (the
    r7 fast path covered literal-only streams; this extends it to the
    foreign-stream shape VERDICT r07 #5 named).

    Same speculative idea as _literal_decode_fast, one level up:
    decode a whole TOKEN (literal pixel = 4 channel codes, or backward
    reference = length prefix + extra bits + distance prefix + extra
    bits) at EVERY bit position with LUT gathers, build the
    per-position "position after one token" map, and recover the true
    token starts by pointer doubling — stopping as soon as the
    recovered tokens' pixel counts cover ``n`` (a copy-heavy stream has
    far fewer tokens than pixels). Literal pixels then land in one
    vectorized scatter; backward references apply per TOKEN (not per
    pixel): a non-overlapping copy is one slice assignment, an
    overlapping one (dist < length — the run-fill idiom) is one
    np.tile of the last ``dist`` pixels. Copies only ever read pixels
    the token order has already finalized, so literals-first +
    copies-in-order is exact.

    ``group`` is the (green, red, blue, alpha, distance) decoder tuple;
    ``width`` scopes the 2D distance plane map to THIS image. Returns
    (rows, end bit position) like _literal_decode_fast — the caller
    advances its bit reader. Output pinned bit-identical to the
    per-pixel reference loop by tests (FAST_LITERAL toggles both
    paths)."""
    green_dec, red_dec, blue_dec, alpha_dec, dist_dec = group
    # reachable window only (code-review r08, same as the literal
    # path): drop the consumed prefix, clamp to the token-derived
    # worst case (<= n tokens x <= 60 bits + one-token pad) — memory
    # is O(min(remaining stream, pixels)), not O(whole buffer), and
    # the returned end position is absolute
    byte0, start_bit, win_bytes = _fast_window(stream, start_bit, n, _LZ77_PAD_BITS)
    base_bits = byte0 << 3
    buf = np.frombuffer(stream, dtype=np.uint8)[byte0 : byte0 + win_bytes]
    nbits = win_bytes * 8
    min_g = min(ln for _c, ln in green_dec.code_map.values())
    if min_g == 0:
        # single-symbol green here is necessarily a length prefix (a
        # literal single-symbol green takes the literal fast path), so
        # the first token is a backward reference at pixel 0 — invalid
        # in every stream (same check the reference loop hits first)
        raise ValueError("webp: backward reference before image start")
    # plausibility gate before any O(n) allocation (the literal path's
    # O(1) gate, weakened by LZ77's fan-out): every token costs at
    # least min_g bits and emits at most _MAX_LZ77_LEN pixels
    min_tokens = -(-n // _MAX_LZ77_LEN)
    # (the window clamp is >= start + n*61 bits, far above this
    # gate's worst demand of ~n*0.004 bits — it can never false-fire)
    if start_bit + min_tokens * min_g > nbits:
        raise ValueError("webp: truncated VP8L bitstream")
    bits = np.unpackbits(buf, bitorder="little")
    # pad covers one worst-case token (4x15-bit literal / 58-bit copy)
    # so no real token's chain ever hits the clamp; only a final token
    # overrunning nbits can, and the end-position check catches it
    pad = 80
    M = nbits + pad
    bitsp = np.concatenate([bits, np.zeros(pad + 18, dtype=np.uint8)])
    peek = np.zeros(M, dtype=np.int32)
    for j in range(_PEEK):
        peek |= bitsp[j : j + M].astype(np.int32) << j
    # extra-bit reads need up to 18 bits (distance code 39): extend the
    # 15-bit window by the three missing bit planes
    peek18 = peek.copy()
    for j in range(_PEEK, 18):
        peek18 |= bitsp[j : j + M].astype(np.int32) << j
    limit = M - 1
    pidx = np.arange(M, dtype=np.int32)

    g_sym_lut, g_len_lut = _lut_from_code_map(green_dec.code_map)
    g_sym = g_sym_lut[peek]
    g_len = g_len_lut[peek]
    q1 = np.minimum(pidx + g_len, limit)  # after the green code
    # literal chain: end position AND channel value at every position
    lit_vals: list = []  # per r,b,a stream channel: const or array[start]
    q = q1
    for dec in (red_dec, blue_dec, alpha_dec):
        if len(dec.code_map) == 1:
            lit_vals.append(next(iter(dec.code_map)))
            continue
        s_lut, l_lut = _lut_from_code_map(dec.code_map)
        w15 = peek[q]
        lit_vals.append(s_lut[w15])
        q = np.minimum(q + l_lut[w15], limit)
    lit_end = q
    # copy chain: length value/extra, then distance code value/extra
    gcode = g_sym - 256  # meaningful only where g_sym >= 256
    lext = np.where(gcode >= 4, np.maximum(gcode - 2, 0) >> 1, 0)
    lval = np.where(
        gcode < 4,
        gcode + 1,
        ((2 + (gcode & 1)) << lext) + (peek18[q1] & ((1 << lext) - 1)) + 1,
    )
    q2 = np.minimum(q1 + lext, limit)
    d_sym_lut, d_len_lut = _lut_from_code_map(dist_dec.code_map)
    w2 = peek[q2]
    d_sym = d_sym_lut[w2]
    d_len = d_len_lut[w2]
    q3 = np.minimum(q2 + d_len, limit)
    dext = np.where(d_sym >= 4, np.maximum(d_sym - 2, 0) >> 1, 0)
    dcode = np.where(
        d_sym < 4,
        d_sym + 1,
        ((2 + (d_sym & 1)) << dext) + (peek18[q3] & ((1 << dext) - 1)) + 1,
    )
    is_lit_at = g_sym < 256
    tok_end = np.where(is_lit_at, lit_end, np.minimum(q3 + dext, limit)).astype(
        np.int32
    )
    cnt = np.where(is_lit_at, 1, lval)
    plane = np.array(
        [max(1, xo + yo * width) for xo, yo in _DIST_OFFSETS], dtype=np.int64
    )
    dist_at = np.where(
        dcode <= 120, plane[np.clip(dcode - 1, 0, 119)], dcode.astype(np.int64) - 120
    )

    # token-start recovery: pointer doubling over tok_end, growing the
    # position buffer on demand and stopping once the emitted-pixel
    # total covers n (tokens <= n, but usually far fewer)
    cap = min(n, max(256, 2 * min_tokens))
    P = np.empty(cap, dtype=np.int32)
    P[0] = min(int(start_bit), limit)
    filled = 1
    total = int(cnt[P[0]])
    jump = tok_end
    while filled < n and total < n:
        take = min(filled, n - filled)
        if filled + take > cap:
            cap = min(n, max(cap * 2, filled + take))
            grown = np.empty(cap, dtype=np.int32)
            grown[:filled] = P[:filled]
            P = grown
        new = jump[P[:take]]
        P[filled : filled + take] = new
        total += int(cnt[new].sum())
        filled += take
        if filled < n and total < n:
            jump = jump[np.minimum(jump, limit)]
    used = P[:filled].astype(np.int64)
    cum = np.cumsum(cnt[used])
    k = int(np.searchsorted(cum, n))  # first token index with cum >= n
    toks = used[: k + 1]
    # error ORDER must match the reference loop's stream order: within
    # a token the bit reads come first (truncation), then the dist >
    # pos check, then the past-image-end check; across tokens the
    # earliest bad token wins. Only the cut tail can read past nbits
    # (positions are monotone), and only token k can overshoot n (the
    # cumsum crosses n exactly once).
    ends = tok_end[toks]
    bad = np.nonzero(ends > nbits)[0]
    t_bad = int(bad[0]) if bad.size else None
    overshoot = k if int(cum[k]) != n else None

    cnts = cnt[toks].astype(np.int64)
    starts = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(cnts)[:-1]])
    out = np.empty((n, 4), dtype=np.uint8)
    is_lit = is_lit_at[toks]
    lp = toks[is_lit]
    ls = np.minimum(starts[is_lit], n - 1)  # clamp: overshoot raises below
    out[ls, 1] = g_sym[lp]  # stream g,r,b,a -> columns R,G,B,A
    for col, v in zip((0, 2, 3), lit_vals):
        out[ls, col] = v if np.isscalar(v) else v[lp]
    dists = dist_at[toks]
    for i in np.nonzero(~is_lit)[0]:
        if t_bad is not None and t_bad <= i:
            raise ValueError("webp: truncated VP8L bitstream")
        s = int(starts[i])
        ln = int(cnts[i])
        d = int(dists[i])
        if d > s:
            raise ValueError("webp: backward reference before image start")
        if i == overshoot:
            raise ValueError("webp: backward reference past image end")
        if d >= ln:
            out[s : s + ln] = out[s - d : s - d + ln]
        else:
            # overlapping copy repeats the last d pixels: out[s+i] =
            # out[s-d + (i mod d)] — one tile, no per-pixel loop
            out[s : s + ln] = np.tile(out[s - d : s], (-(-ln // d), 1))[:ln]
    if t_bad is not None:  # truncation at/after the last copy token
        raise ValueError("webp: truncated VP8L bitstream")
    return out, base_bits + int(ends[-1])


def decode_webp(data: bytes) -> np.ndarray:
    """WebP container -> (h, w, 3) uint8 RGB. Accepts a simple-format
    VP8L file or an extended (VP8X) still image whose bitstream is
    VP8L — pixel-neutral metadata chunks (ICCP/EXIF/XMP) are skipped.
    Out-of-subset features (module docstring) raise with the reason,
    never decode wrong."""
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: not a RIFF/WEBP container")
    fourcc = data[12:16]
    if fourcc == b"VP8 ":
        raise NotImplementedError("webp: lossy VP8 payload unsupported (VP8L only)")
    if fourcc == b"VP8X":
        return _decode_vp8x(data)
    if fourcc != b"VP8L":
        raise ValueError(f"webp: unknown chunk {fourcc!r}")
    (chunk_len,) = struct.unpack("<I", data[16:20])
    payload = data[20 : 20 + chunk_len]
    if len(payload) < chunk_len:
        raise ValueError("webp: truncated VP8L chunk")
    return _decode_vp8l(payload)


def _decode_vp8x(data: bytes) -> np.ndarray:
    """Extended-format (RFC 9649 section 2.5/2.7) still image: walk
    the chunk sequence after the VP8X header to the VP8L bitstream.
    Animation, fragments, and lossy (VP8/ALPH) payloads raise."""
    (vx_len,) = struct.unpack("<I", data[16:20])
    if vx_len != 10 or len(data) < 30:
        raise ValueError("webp: bad VP8X chunk length")
    flags = data[20]
    if flags & 0x02:
        raise NotImplementedError(
            "webp: animated (ANIM) webp is not a still image — use "
            "webpanim.decode_webp_anim"
        )
    canvas_w = int.from_bytes(data[24:27], "little") + 1
    canvas_h = int.from_bytes(data[27:30], "little") + 1
    off = 30  # VP8X payload is 10 bytes (even: no pad)
    while off + 8 <= len(data):
        fc = data[off : off + 4]
        (sz,) = struct.unpack("<I", data[off + 4 : off + 8])
        body = data[off + 8 : off + 8 + sz]
        if len(body) < sz:
            raise ValueError(f"webp: truncated {fc!r} chunk")
        if fc == b"VP8L":
            arr = _decode_vp8l(body)
            if arr.shape[0] != canvas_h or arr.shape[1] != canvas_w:
                raise ValueError(
                    "webp: VP8X canvas size does not match VP8L bitstream"
                )
            return arr
        if fc == b"VP8 ":
            raise NotImplementedError(
                "webp: lossy VP8 payload unsupported (VP8L only)"
            )
        if fc == b"ALPH":
            raise NotImplementedError("webp: ALPH (lossy-alpha) unsupported")
        if fc in (b"ICCP", b"EXIF", b"XMP "):
            # pixel-neutral metadata: skipping cannot change decoded
            # values (ICC affects display rendering, not samples)
            off += 8 + sz + (sz & 1)
            continue
        raise ValueError(f"webp: unknown chunk {fc!r} in VP8X container")
    raise ValueError("webp: VP8X container has no image bitstream chunk")


# 2D LZ77 distance plane (RFC 9649 §4.2.2): distance codes 1..120 map
# to (xoffset, yoffset) neighborhood offsets; dist = xoffset +
# yoffset * xsize, clamped to >= 1. Transcribed from the spec table;
# tests/test_webpcodec.py regenerates it from its generative rule
# ({(x,y): y=0, 1<=x<=8} ∪ {(x,y): 1<=y<=7, -7<=x<=8}, sorted by
# (x²+y², -y, +x before -x)) and asserts equality, so a transcription
# slip fails CI instead of silently mis-decoding a foreign stream.
_DIST_OFFSETS = (
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


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _read_prefix_group(br: _BitReader, cache_size: int) -> tuple:
    """One meta-prefix group: the five prefix codes (RFC 9649 §4.3.5)."""
    return (
        _read_prefix_code(br, 256 + _NUM_LENGTH_PREFIXES + cache_size),  # green
        _read_prefix_code(br, 256),  # red
        _read_prefix_code(br, 256),  # blue
        _read_prefix_code(br, 256),  # alpha
        _read_prefix_code(br, 40),  # distance
    )


def _decode_image_stream(br: _BitReader, w: int, h: int, is_level0: bool) -> np.ndarray:
    """Decode one spatially-coded image (RFC 9649 §4.3.2): color cache
    info, meta prefix info (level 0 only — sub-resolution images read
    no meta bit, matching the spec's recursion), prefix code groups,
    then the literal/LZ77/cache-coded pixel data. Transform reading
    lives in the caller (_decode_vp8l) — transforms exist only at
    level 0. Reads bits AND bytes from ``br`` alone (the fast path
    peeks br.data at br.pos) so a caller can never hand it a buffer
    out of sync with the bit reader. Returns flat (n, 4) uint8 rows
    in R, G, B, A order."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError("webp: invalid color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    group_of = None
    n_groups = 1
    meta_tw = meta_bits = 0
    midx = None
    if is_level0 and br.read(1):  # meta prefix codes
        meta_bits = br.read(3) + 2
        meta_tw, meta_th = _subsample(w, meta_bits), _subsample(h, meta_bits)
        meta = _decode_image_stream(br, meta_tw, meta_th, False)
        # group index = (red << 8) | green of the entropy-image pixel
        midx = (meta[:, 0].astype(np.int32) << 8) | meta[:, 1].astype(np.int32)
        # n_groups = max index + 1 per spec — a sparse index set (legal)
        # forces parsing unreferenced groups, so a hostile entropy image
        # can demand up to 65536 parses. No cap: capping at the tile
        # count would reject spec-legal sparse streams, and the cost is
        # already input-bounded — every group consumes >=5 bits (one
        # "simple?" bit per prefix code) and truncation raises, so a
        # tiny stream cannot pay for many groups (ADVICE r07).
        n_groups = int(midx.max()) + 1
    groups = [_read_prefix_group(br, cache_size) for _ in range(n_groups)]
    n = w * h
    if FAST_LITERAL and cache_bits == 0 and n_groups == 1:
        if all(s < 256 for s in groups[0][0].code_map):
            # literal-only stream (no cache, one group, green code
            # carries no LZ77 length symbols): pixel-level vectorized,
            # decoded in fixed pixel CHUNKS — pixels are independent
            # and the function returns its end bit, so memory stays
            # bounded at ~_FAST_LITERAL_CHUNK*61 bits of arrays at ANY
            # image size (code-review r08 third pass: a single gated
            # call sent >34k-px literal images to the 60x-slower loop)
            parts = []
            pos = br.pos
            for off in range(0, n, _FAST_LITERAL_CHUNK):
                m = min(_FAST_LITERAL_CHUNK, n - off)
                o, pos = _literal_decode_fast(br.data, pos, m, groups[0][:4])
                parts.append(o)
            br.pos = pos
            return parts[0] if len(parts) == 1 else np.concatenate(parts)
        # cache-less LZ77 stream (own lz77 profile + the common
        # foreign shape): token-level vectorized. Tokens can reference
        # any earlier pixel, so this path can't chunk — the dispatch
        # cap (measured with the SAME window formula the function
        # allocates by) sends oversized windows to the O(pixels) loop
        if _fast_window(br.data, br.pos, n, _LZ77_PAD_BITS)[2] <= _FAST_DECODE_MAX_BYTES:
            out, end_bit = _lz77_decode_fast(br.data, br.pos, n, groups[0], w)
            br.pos = end_bit
            return out
    if n_groups > 1:  # a trivial entropy image needs no per-pixel map
        ys = np.arange(n, dtype=np.int64) // w >> meta_bits
        xs = np.arange(n, dtype=np.int64) % w >> meta_bits
        group_of = midx[ys * meta_tw + xs]
    # dist = xoffset + yoffset * THIS image's width, floored at 1
    plane_dist = [max(1, xo + yo * w) for xo, yo in _DIST_OFFSETS]
    out = np.empty((n, 4), dtype=np.uint8)  # R, G, B, A
    cache = np.zeros((cache_size, 4), dtype=np.uint8) if cache_size else None
    pos = 0
    if group_of is None:  # single group: unpack once, not per pixel
        green_dec, red_dec, blue_dec, alpha_dec, dist_dec = groups[0]
    while pos < n:
        if group_of is not None:
            green_dec, red_dec, blue_dec, alpha_dec, dist_dec = groups[group_of[pos]]
        s = green_dec.read(br)
        if s < 256:
            g = s
            r = red_dec.read(br)
            b = blue_dec.read(br)
            a = alpha_dec.read(br)
            out[pos] = (r, g, b, a)
            pos += 1
            px = pos - 1
        elif s < 256 + _NUM_LENGTH_PREFIXES:
            length = _prefix_value(s - 256, br)
            dcode = _prefix_value(dist_dec.read(br), br)
            dist = plane_dist[dcode - 1] if dcode <= 120 else dcode - 120
            if dist > pos:
                raise ValueError("webp: backward reference before image start")
            if pos + length > n:
                raise ValueError("webp: backward reference past image end")
            for _ in range(length):
                out[pos] = out[pos - dist]
                if cache is not None:
                    _cache_insert(cache, cache_bits, out[pos])
                pos += 1
            continue
        else:
            if cache is None:
                raise ValueError("webp: cache index without color cache")
            idx = s - 256 - _NUM_LENGTH_PREFIXES
            out[pos] = cache[idx]
            pos += 1
            continue  # cache hits re-insert the same value: no-op
        if cache is not None:
            _cache_insert(cache, cache_bits, out[px])
    return out


def _decode_vp8l(payload: bytes) -> np.ndarray:
    if not payload or payload[0] != 0x2F:
        raise ValueError("webp: bad VP8L signature byte")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("webp: unknown VP8L version")
    # transforms, in stream order; inverses apply in REVERSE order.
    # Color indexing with pixel bundling shrinks the width every
    # LATER-read stream (incl. the spatial image) is coded at.
    transforms: list[tuple[int, tuple | None]] = []
    seen_types: set[int] = set()
    cur_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen_types:
            raise ValueError("webp: duplicate transform type")
        seen_types.add(ttype)
        if ttype == 2:  # subtract green — no payload
            transforms.append((2, None))
        elif ttype in (0, 1):  # predictor / cross-color tiles
            size_bits = br.read(3) + 2
            tw, th = _subsample(cur_w, size_bits), _subsample(h, size_bits)
            tiles = _decode_image_stream(br, tw, th, False)
            transforms.append((ttype, (size_bits, tw, tiles, cur_w)))
        else:  # 3: color indexing (palette, delta-coded entries)
            n_colors = br.read(8) + 1
            raw = _decode_image_stream(br, n_colors, 1, False)
            palette = np.cumsum(raw.astype(np.int32), axis=0).astype(np.uint8)
            wb = _palette_width_bits(n_colors)
            transforms.append((3, (wb, palette, cur_w)))
            cur_w = _subsample(cur_w, wb)
    out = _decode_image_stream(br, cur_w, h, True)
    for ttype, td in reversed(transforms):
        if ttype == 2:
            g16 = out[:, 1].astype(np.int16)
            out[:, 0] = ((out[:, 0].astype(np.int16) + g16) & 255).astype(np.uint8)
            out[:, 2] = ((out[:, 2].astype(np.int16) + g16) & 255).astype(np.uint8)
        elif ttype == 0:
            out = _inv_predictor(out, *td, h)
        elif ttype == 1:
            out = _inv_cross_color(out, *td, h)
        else:
            out = _inv_palette(out, *td, h)
    # the module contract promises loud out-of-subset failure — a
    # conformant stream with real per-pixel alpha must not silently
    # decode to RGB with the channel dropped (ADVICE r06)
    if np.any(out[:, 3] != 255):
        raise NotImplementedError(
            "webp: non-opaque alpha unsupported (RGB-only subset)"
        )
    return out[:, :3].reshape(h, w, 3)


def _cache_insert(cache: np.ndarray, cache_bits: int, px: np.ndarray) -> None:
    argb = (
        (int(px[3]) << 24) | (int(px[0]) << 16) | (int(px[1]) << 8) | int(px[2])
    )
    cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = px


# ------------------------------------------------- inverse transforms


def _avg2(a: list, b: list) -> list:
    return [(a[c] + b[c]) >> 1 for c in range(4)]


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _trunc2(v: int) -> int:
    """C-style truncating division by 2 (RFC 9649's `(a - b) / 2` in
    ClampAddSubtractHalf truncates toward zero, not floor)."""
    return v // 2 if v >= 0 else -((-v) // 2)


def _predict(mode: int, L: list, T: list, TR: list, TL: list) -> list:
    """The 14 spatial predictor modes (RFC 9649 §4.4.1)."""
    if mode == 0:
        return (0, 0, 0, 255)  # 0xff000000 in our R,G,B,A order
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select: Manhattan distance to the gradient estimate
        pL = sum(abs(T[c] - TL[c]) for c in range(4))
        pT = sum(abs(L[c] - TL[c]) for c in range(4))
        return L if pL < pT else T
    if mode == 12:
        return [_clamp(L[c] + T[c] - TL[c]) for c in range(4)]
    if mode == 13:
        a = _avg2(L, T)
        return [_clamp(a[c] + _trunc2(a[c] - TL[c])) for c in range(4)]
    raise ValueError("webp: predictor mode out of range")


def _inv_predictor(
    out: np.ndarray, size_bits: int, tw: int, tiles: np.ndarray, w: int, h: int
) -> np.ndarray:
    """Inverse predictor transform (RFC 9649 §4.4.1): residuals +
    predicted neighbor values mod 256, scan order. Border rules: the
    top-left pixel predicts from opaque black, the rest of the top row
    from L, the left column from T; the TR pixel of the rightmost
    column is the current row's leftmost (the spec's flat-array rule —
    pos - w + 1 lands there naturally). Sequential per pixel by nature
    (each prediction reads reconstructed neighbors) — per-pixel Python
    on this foreign-stream-only path, same as the LZ77/cache loop."""
    modes = tiles[:, 1]  # tile green channel holds the mode
    px = out.astype(np.int64).tolist()
    n = w * h
    for pos in range(n):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = (0, 0, 0, 255)
        elif y == 0:
            pred = px[pos - 1]
        elif x == 0:
            pred = px[pos - w]
        else:
            mode = int(modes[(y >> size_bits) * tw + (x >> size_bits)])
            pred = _predict(
                mode, px[pos - 1], px[pos - w], px[pos - w + 1], px[pos - w - 1]
            )
        p = px[pos]
        px[pos] = [(p[c] + pred[c]) & 255 for c in range(4)]
    return np.asarray(px, dtype=np.uint8)


def _inv_cross_color(
    out: np.ndarray, size_bits: int, tw: int, tiles: np.ndarray, w: int, h: int
) -> np.ndarray:
    """Inverse cross-color transform (RFC 9649 §4.4.2), vectorized.
    Per-tile signed multipliers live in the tile pixel's channels:
    green_to_red in BLUE, green_to_blue in GREEN, red_to_blue in RED.
    delta(t, c) = (int8(t) * int8(c)) >> 5 (arithmetic shift); red is
    reconstructed first and its NEW value (as int8) feeds blue."""
    n = w * h
    ys = np.arange(n, dtype=np.int64) // w >> size_bits
    xs = np.arange(n, dtype=np.int64) % w >> size_bits
    tidx = ys * tw + xs
    g2r = tiles[tidx, 2].astype(np.int8).astype(np.int16)
    g2b = tiles[tidx, 1].astype(np.int8).astype(np.int16)
    r2b = tiles[tidx, 0].astype(np.int8).astype(np.int16)
    green = out[:, 1].astype(np.int8).astype(np.int16)
    red = (out[:, 0].astype(np.int16) + ((g2r * green) >> 5)) & 255
    red_s = red.astype(np.uint8).astype(np.int8).astype(np.int16)
    blue = (
        out[:, 2].astype(np.int16) + ((g2b * green) >> 5) + ((r2b * red_s) >> 5)
    ) & 255
    res = out.copy()
    res[:, 0] = red.astype(np.uint8)
    res[:, 2] = blue.astype(np.uint8)
    return res


def _inv_palette(
    out: np.ndarray, wb: int, palette: np.ndarray, w: int, h: int
) -> np.ndarray:
    """Inverse color-indexing transform (RFC 9649 §4.4.4): unbundle
    packed indices from the green channel (wb = width_bits; 1 << wb
    indices per packed pixel, each 8 >> wb bits, LSB-first = leftmost)
    then look up the delta-decoded palette. The spec decodes an
    out-of-palette index to transparent black; in this RGB-only
    subset that pixel could only be rejected later by the opaque-alpha
    gate with a misleading message, so the range check raises its own
    error here instead (ADVICE r07)."""
    if wb == 0:
        idx = out[:, 1].astype(np.int64)
    else:
        pw = out.shape[0] // h
        green = out[:, 1].reshape(h, pw).astype(np.int64)
        per, bits = 1 << wb, 8 >> wb
        shifts = np.arange(per, dtype=np.int64) * bits
        idx = (green[:, :, None] >> shifts) & ((1 << bits) - 1)
        idx = idx.reshape(h, pw * per)[:, :w].reshape(-1)
    if int(idx.max(initial=0)) >= palette.shape[0]:
        # RFC 9649 §4.4.4: an index past the color table decodes to
        # transparent black — a SPEC-LEGAL stream outside this
        # module's RGB-only subset, so NotImplementedError (the
        # valid-but-out-of-subset class, which imagecodec.decode
        # routes to the PIL fallback hook), with the dedicated
        # message ADVICE r07 asked for instead of the generic
        # downstream alpha gate (code-review r08: a ValueError here
        # bypassed the fallback for conformant streams)
        raise NotImplementedError(
            "webp: color index out of palette range decodes to "
            "transparent black (non-opaque alpha unsupported)"
        )
    return palette[idx].copy()
