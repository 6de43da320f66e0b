"""VP8L (lossless WebP) codec tests — r06 onward (VERDICT r05 #6).

Own-encoder streams roundtrip EXACTLY (lossless) on both profiles
(literal + subtract-green default; opt-in COLOR_INDEXING palette);
decoder-only spec features the encoder never emits (color cache,
LZ77 with 1D and 2D distances, predictor / cross-color transforms,
meta prefix groups, RLE code lengths, max_symbol cutoff) are
exercised with hand-built spec-conformant streams checked against
independent RFC-pseudocode transcriptions; out-of-subset constructs
fail loudly with their reason. Spec: RFC 9649 (public)."""

import numpy as np
import pytest

from crawlspark import imagecodec
from crawlspark import webpcodec as W
from crawlspark.webpcodec import decode_webp, encode_webp


def test_roundtrip_synth_corpus_exact():
    for i in range(1, 9):
        a = imagecodec.synth_image(f"img-{i:04d}", 24, 16)
        assert np.array_equal(decode_webp(encode_webp(a)), a)


def test_roundtrip_edge_shapes_exact():
    rng = np.random.RandomState(7)
    imgs = [
        np.zeros((1, 1, 3), np.uint8),
        np.full((3, 5, 3), 255, np.uint8),
        rng.randint(0, 256, (16, 16, 3)).astype(np.uint8),
        rng.randint(0, 2, (8, 8, 3)).astype(np.uint8) * 255,
        np.tile(np.arange(256, dtype=np.uint8).reshape(16, 16, 1), (1, 1, 3)),
    ]
    # channel-constant mixes: single-symbol prefix codes read 0 bits —
    # the writer must emit 0 bits too (the one real encode/decode
    # asymmetry hazard, caught in development by exactly this shape)
    m = rng.randint(0, 256, (12, 9, 3)).astype(np.uint8)
    m[:, :, 0] = 7
    imgs.append(m)
    for a in imgs:
        assert np.array_equal(decode_webp(encode_webp(a)), a)


def test_roundtrip_hypothesis_exact():
    """Property: ANY (h, w, 3) uint8 array roundtrips exactly
    (lossless), with hypothesis shrinking on failure."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra import numpy as hnp

    @settings(max_examples=120, deadline=None)
    @given(
        hnp.arrays(
            dtype=np.uint8,
            shape=st.tuples(
                st.integers(1, 10), st.integers(1, 10), st.just(3)
            ),
        )
    )
    def prop(a):
        assert np.array_equal(decode_webp(encode_webp(a)), a)

    prop()


def _distinct_palette_image(k: int, h: int, w: int):
    """An image with EXACTLY k distinct colors: a constructed
    guaranteed-distinct palette (red channel = index), every entry
    used at least once, remaining pixels seeded-random. A random
    palette/indices pair can silently use fewer colors than k (a
    13x11 image holds at most 143), which would void a boundary
    case like k=256."""
    assert h * w >= k
    pal = np.stack(
        [np.arange(k), (np.arange(k) * 37) % 256, (np.arange(k) * 91) % 256],
        axis=1,
    ).astype(np.uint8)
    rng = np.random.default_rng(k)
    idx = np.concatenate([np.arange(k), rng.integers(0, k, h * w - k)])
    img = pal[idx.reshape(h, w)]
    assert len(np.unique(img.reshape(-1, 3), axis=0)) == k
    return img


@pytest.mark.parametrize("k", [1, 2, 3, 4, 9, 16, 17, 200, 256])
def test_roundtrip_palette_profile_exact(k):
    """The opt-in palette (COLOR_INDEXING) encode profile roundtrips
    exactly across every bundling width (k<=2 -> 8 idx/px, <=4 -> 4,
    <=16 -> 2, else unbundled) including partial last bundles (w=11)
    and the exact 256-color boundary (the full 8-bit n_colors-1
    field) — real encoder output through the full transform decode
    path, not a hand-built stream."""
    h, w = (13, 11) if k <= 16 else (24, 11)
    img = _distinct_palette_image(k, h, w)
    assert np.array_equal(decode_webp(encode_webp(img, palette=True)), img)


def test_palette_profile_compresses_and_rejects():
    """Palette beats the literal profile on a genuinely low-color
    image, and refuses (loudly) past 256 distinct colors — it never
    silently falls back to a different stream shape."""
    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 16, (48, 64))]
    assert len(encode_webp(img, palette=True)) < len(encode_webp(img))
    hi = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="256 distinct colors"):
        encode_webp(hi, palette=True)


def test_roundtrip_palette_hypothesis_exact():
    """Property: any low-color image roundtrips exactly through the
    palette profile (palette build, delta coding, bundling, and the
    decoder's gather inverse all under hypothesis shrinking)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=80, deadline=None)
    @given(
        st.integers(1, 20),
        st.integers(1, 12),
        st.integers(1, 12),
        st.integers(0, 2**32 - 1),
    )
    def prop(k, h, w, seed):
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, (k, 3), dtype=np.uint8)
        img = pal[rng.integers(0, k, (h, w))]
        assert np.array_equal(decode_webp(encode_webp(img, palette=True)), img)

    prop()


def test_literal_profile_bytes_pinned_to_fixtures():
    """Encoder byte-stability: the default (literal) profile must
    reproduce the committed fixture corpus bytes exactly — a silent
    encoder drift would desync fixtures regenerated later from the
    goldens every other test pins against."""
    import pathlib

    import pyarrow.parquet as pq

    fx = pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "images.parquet"
    df = pq.read_table(fx).to_pandas()
    rows = df[df.fmt == "webp"]
    assert len(rows) >= 4
    for _, row in rows.iterrows():
        arr = imagecodec.synth_image(row.image_id, row.w, row.h)
        assert encode_webp(arr) == bytes(row["bytes"]), row.image_id


def test_roundtrip_fuzz_exact():
    rng = np.random.RandomState(99)
    for _ in range(150):
        h, w = rng.randint(1, 33), rng.randint(1, 33)
        card = rng.choice([2, 3, 8, 256])
        vals = rng.randint(0, 256, card)
        a = vals[rng.randint(0, card, (h, w, 3))].astype(np.uint8)
        if rng.rand() < 0.3:
            a[:, :, rng.randint(0, 3)] = rng.randint(0, 256)
        assert np.array_equal(decode_webp(encode_webp(a)), a)


# ---------------------------------------------------- foreign streams


def _container(bw: W._BitWriter) -> bytes:
    import struct

    payload = b"\x2f" + bw.bytes()
    chunk = payload + (b"\x00" if len(payload) & 1 else b"")
    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(payload)) + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _header(bw: W._BitWriter, w: int, h: int):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _write_simple_code(bw: W._BitWriter, symbols):
    assert all(s <= 255 for s in symbols)  # simple codes are 8-bit
    bw.write(1, 1)
    bw.write(len(symbols) - 1, 1)
    if symbols[0] <= 1:
        bw.write(0, 1)
        bw.write(symbols[0], 1)
    else:
        bw.write(1, 1)
        bw.write(symbols[0], 8)
    if len(symbols) == 2:
        bw.write(symbols[1], 8)


def _write_normal_two(bw: W._BitWriter, alphabet_size: int, sym_a: int, sym_b: int):
    """Normal-form prefix code with two length-1 symbols (needed when
    a symbol exceeds the simple form's 8-bit field, e.g. length
    prefixes / cache indexes in the green alphabet). cl code: lengths
    {0,1} both at cl-length 1 -> canonical 0->'0', 1->'1'; alphabet
    lengths then stream as one bit per symbol."""
    assert sym_a < sym_b < alphabet_size
    bw.write(0, 1)  # normal
    bw.write(15, 4)  # num_code_lengths = 19
    cl = {0: 1, 1: 1}
    for sym in W._CL_ORDER:
        bw.write(cl.get(sym, 0), 3)
    bw.write(0, 1)  # no max_symbol
    for s in range(alphabet_size):
        bw.write_code(1 if s in (sym_a, sym_b) else 0, 1)


def _chan_code(bw: W._BitWriter, values, alphabet: int):
    """Write one channel's prefix code; return val -> (code, len)
    lookup (None = zero-bit single-symbol code)."""
    used = sorted(set(values))
    if len(used) <= 2 and all(v <= 255 for v in used):
        _write_simple_code(bw, used)
        if len(used) == 1:
            return None
        return {used[0]: (0, 1), used[1]: (1, 1)}
    freqs = np.zeros(alphabet, np.int64)
    for v in values:
        freqs[v] += 1
    lengths = W._huffman_lengths(freqs, 15)
    W._write_prefix_code(bw, lengths)
    return W._canonical_codes(lengths)


def _write_image_stream(bw: W._BitWriter, pixels, level0: bool):
    """Write a literal-only spatially-coded image (cache off, no meta)
    for the given (r, g, b, a) pixel list — the building block for
    transform sub-images (tiles / palettes / entropy images) and plain
    level-0 images. Sub-resolution images carry NO meta-prefix bit."""
    bw.write(0, 1)  # no color cache
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    rs = [p[0] for p in pixels]
    gs = [p[1] for p in pixels]
    bs = [p[2] for p in pixels]
    as_ = [p[3] for p in pixels]
    gc = _chan_code(bw, gs, 256 + 24)
    rc = _chan_code(bw, rs, 256)
    bc = _chan_code(bw, bs, 256)
    ac = _chan_code(bw, as_, 256)
    _write_simple_code(bw, [0])  # distance (unused)
    for r, g, b, a in pixels:
        for val, codes in ((g, gc), (r, rc), (b, bc), (a, ac)):
            if codes is not None:
                bw.write_code(*codes[val])


def _rfc_predict(mode, L, T, TR, TL):
    """Independent transcription of the RFC 9649 §4.4.1 predictor
    pseudo-code (gradient-estimate form for Select, C-truncating /2 in
    ClampAddSubtractHalf) — a differential check on the module's
    _predict, not a call into it."""
    C = range(4)

    def av(a, b):
        return tuple((a[c] + b[c]) // 2 for c in C)

    def clamp(v):
        return min(255, max(0, v))

    def tr2(v):  # C division truncates toward zero
        return v // 2 if v >= 0 else -((-v) // 2)

    if mode == 11:
        p = [L[c] + T[c] - TL[c] for c in C]
        pl = sum(abs(p[c] - L[c]) for c in C)
        pt = sum(abs(p[c] - T[c]) for c in C)
        return L if pl < pt else T
    if mode == 12:
        return tuple(clamp(L[c] + T[c] - TL[c]) for c in C)
    if mode == 13:
        a = av(L, T)
        return tuple(clamp(a[c] + tr2(a[c] - TL[c])) for c in C)
    return {
        0: lambda: (0, 0, 0, 255),
        1: lambda: L,
        2: lambda: T,
        3: lambda: TR,
        4: lambda: TL,
        5: lambda: av(av(L, TR), T),
        6: lambda: av(L, TL),
        7: lambda: av(L, T),
        8: lambda: av(TL, T),
        9: lambda: av(T, TR),
        10: lambda: av(av(L, TL), av(T, TR)),
    }[mode]()


def _predictor_residuals(target, w, h, mode):
    """Forward predictor transform (single tile): residuals the
    decoder must turn back into ``target``. target: list of (r,g,b,a)
    in scan order."""
    res = []
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = (0, 0, 0, 255)
        elif y == 0:
            pred = target[pos - 1]
        elif x == 0:
            pred = target[pos - w]
        else:
            pred = _rfc_predict(
                mode,
                target[pos - 1],
                target[pos - w],
                target[pos - w + 1],  # x=w-1: current row's leftmost
                target[pos - w - 1],
            )
        res.append(tuple((target[pos][c] - pred[c]) & 255 for c in range(4)))
    return res


def test_decoder_lz77_1d():
    """Foreign-stream LZ77: a literal pixel then a 1D backref (plane
    code 121 -> distance 1) copying 3 pixels — a 2x3 solid image.
    Distance prefix 13: extra=(13-2)>>1=5, offset=(2+1)<<5=96,
    value = 96 + rb(5) + 1; rb=24 -> dist_code 121 -> dist 1."""
    bw = W._BitWriter()
    _header(bw, 3, 2)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta prefix
    # green: literal 10 + length-prefix symbol 258 (prefix 2 -> len 3)
    _write_normal_two(bw, 256 + 24, 10, 256 + 2)
    _write_simple_code(bw, [20])  # red
    _write_simple_code(bw, [30])  # blue
    _write_simple_code(bw, [255])  # alpha
    _write_simple_code(bw, [13])  # distance prefix 13
    bw.write(0, 1)  # literal pixel (green code '0' -> 10)
    bw.write(1, 1)  # green code '1' -> len prefix 2 => length 3
    bw.write(24, 5)  # distance extra -> dist_code 121 -> dist 1
    # 4 pixels emitted (1 + 3); 2 more literals fill the 2x3 image
    bw.write(0, 1)
    bw.write(0, 1)
    out = decode_webp(_container(bw))
    assert out.shape == (2, 3, 3)
    assert np.all(out == np.array([20, 10, 30], np.uint8))


def test_decoder_color_cache_hit():
    """Literal pixel inserted into the cache, then referenced by its
    cache index. cache_bits=1: (0x1e35a7bd * ARGB) >> 31."""
    r, g, b, a = 20, 10, 30, 255
    argb = (a << 24) | (r << 16) | (g << 8) | b
    idx = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> 31
    bw = W._BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)
    bw.write(1, 1)  # cache on
    bw.write(1, 4)  # cache_bits=1 -> 2 entries
    bw.write(0, 1)
    cache_sym = 256 + 24 + idx
    _write_normal_two(bw, 256 + 24 + 2, g, cache_sym)
    _write_simple_code(bw, [r])
    _write_simple_code(bw, [b])
    _write_simple_code(bw, [a])
    _write_simple_code(bw, [0])  # distance (unused)
    bw.write(0, 1)  # literal (code '0' -> g, the smaller symbol)
    bw.write(1, 1)  # cache hit (code '1' -> cache_sym)
    out = decode_webp(_container(bw))
    assert np.all(out == np.array([r, g, b], np.uint8))


def test_decoder_subtract_green():
    """subtract-green transform inverse: stored (r-g, g, b-g)."""
    bw = W._BitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)  # a transform
    bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    g, r, b = 100, 150, 50
    _write_simple_code(bw, [g])
    _write_simple_code(bw, [(r - g) & 255])
    _write_simple_code(bw, [(b - g) & 255])
    _write_simple_code(bw, [255])
    _write_simple_code(bw, [0])
    out = decode_webp(_container(bw))
    assert np.all(out[0, 0] == (r, g, b))


def test_decoder_rle_code_lengths_and_max_symbol():
    """Normal prefix code written with RLE 17/18 zero-runs and the
    max_symbol cutoff — decoder-side features our encoder never
    emits. Alphabet: green with symbols {0: len 1, 1: len 1}."""
    bw = W._BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    # green: NORMAL code. cl-code: symbols {1} at len 1... a cl code
    # needs >=1 symbols; use cl lengths: sym1 -> 1 bit? single-symbol
    # cl code reads 0 bits; then RLE cannot be coded. Use 2 cl
    # symbols: {1, 18} each len 1.
    bw.write(0, 1)  # normal
    bw.write(15, 4)  # num_code_lengths = 19
    cl = {1: 1, 18: 1}
    for sym in W._CL_ORDER:
        bw.write(cl.get(sym, 0), 3)
    bw.write(1, 1)  # use max_symbol
    bw.write(0, 3)  # length_nbits = 2
    bw.write(1, 2)  # max_symbol = 2 + 1 = 3 code reads max
    # cl codes: canonical over {1:len1, 18:len1} -> 1->code0, 18->code1
    bw.write_code(0, 1)  # symbol 0: len 1
    bw.write_code(0, 1)  # symbol 1: len 1
    # remaining 278 lengths implicitly 0 via max_symbol exhaustion:
    # write one 18-run to show RLE works too
    bw.write_code(1, 1)  # cl 18: zero-run
    bw.write(100, 7)  # 11+100 = 111 zeros
    # (max_symbol hits 0 after this read; rest zeros)
    _write_simple_code(bw, [5])  # red
    _write_simple_code(bw, [6])  # blue
    _write_simple_code(bw, [255])  # alpha
    _write_simple_code(bw, [0])  # distance
    bw.write(0, 1)  # pixel 0: green 0
    bw.write(1, 1)  # pixel 1: green 1
    out = decode_webp(_container(bw))
    assert out.shape == (1, 2, 3)
    assert out[0, 0, 1] == 0 and out[0, 1, 1] == 1
    assert np.all(out[:, :, 0] == 5) and np.all(out[:, :, 2] == 6)


# -------------------------------------------------------- rejections


def test_rejects_out_of_subset_loudly():
    a = imagecodec.synth_image("img-0001", 8, 8)
    good = encode_webp(a)
    with pytest.raises(ValueError):
        decode_webp(b"RIFX" + good[4:])
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_webp(good[:12] + b"VP8 " + good[16:])
    # fourcc says VP8X but the chunk length is the VP8L one, not 10
    with pytest.raises(ValueError, match="VP8X chunk length"):
        decode_webp(good[:12] + b"VP8X" + good[16:])
    # the same transform twice is corrupt (RFC 9649: each type once)
    bw = W._BitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)
    bw.write(2, 2)  # subtract green
    bw.write(1, 1)
    bw.write(2, 2)  # ... again
    with pytest.raises(ValueError, match="duplicate transform"):
        decode_webp(_container(bw))
    # predictor tile mode out of the 14-mode range is corrupt
    bw = W._BitWriter()
    _header(bw, 8, 8)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor transform
    bw.write(1, 3)  # size_bits = 3 -> one 8x8 tile
    _write_image_stream(bw, [(0, 14, 0, 255)], level0=False)  # mode 14
    bw.write(0, 1)  # no more transforms
    _write_image_stream(bw, [(0, 0, 0, 255)] * 64, level0=True)
    with pytest.raises(ValueError, match="predictor mode"):
        decode_webp(_container(bw))


def test_imagecodec_dispatch_and_fixture_slice():
    """fmt='webp' flows through imagecodec.encode/decode, and the
    make_images webp slice (fixtures corpus) decodes exactly."""
    from crawlspark import testkit

    a = imagecodec.synth_image("img-0002", 24, 16)
    assert np.array_equal(imagecodec.decode(imagecodec.encode(a, "webp"), "webp"), a)
    images = testkit.make_images(24, jpeg_every=3, webp_every=4)
    webp_rows = images[images["fmt"] == "webp"]
    assert len(webp_rows) >= 4
    for r in webp_rows.itertuples(index=False):
        truth = imagecodec.synth_image(r.image_id, r.w, r.h)
        assert np.array_equal(imagecodec.decode(bytes(r.bytes), "webp"), truth)


def test_fast_path_equals_reference_loop(monkeypatch):
    """The vectorized literal decoder must be BIT-identical to the
    per-pixel reference loop on every own-encodable shape, including
    the channel-constant images that regress single-symbol handling
    and 1-pixel/1-row extremes (FAST_LITERAL toggles the path)."""
    rng = np.random.default_rng(77)
    shapes = [(1, 1), (1, 17), (23, 1), (5, 7), (16, 16), (3, 64)]
    imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for h, w in shapes]
    imgs.append(np.full((9, 9, 3), 200, np.uint8))  # channel-constant
    solid = np.zeros((4, 4, 3), np.uint8)
    solid[..., 1] = 255
    imgs.append(solid)
    for arr in imgs:
        for sg in (True, False):
            blob = encode_webp(arr, subtract_green=sg)
            monkeypatch.setattr(W, "FAST_LITERAL", True)
            fast = decode_webp(blob)
            monkeypatch.setattr(W, "FAST_LITERAL", False)
            slow = decode_webp(blob)
            assert np.array_equal(fast, slow)
            assert np.array_equal(fast, arr)
    # palette-profile streams decode BOTH sub-images (palette entries
    # + bundled indices) through whichever path is active — pin the
    # two paths equal on that shape too, across every bundling width
    for k in (1, 2, 4, 16, 200):
        img = _distinct_palette_image(k, 24, 11)
        blob = encode_webp(img, palette=True)
        monkeypatch.setattr(W, "FAST_LITERAL", True)
        fast = decode_webp(blob)
        monkeypatch.setattr(W, "FAST_LITERAL", False)
        slow = decode_webp(blob)
        assert np.array_equal(fast, slow)
        assert np.array_equal(fast, img)


def test_fast_path_engages_and_rejects_truncation(monkeypatch):
    """Own-encoded files actually take the vectorized path, and a
    truncated stream raises there just like the bit-reader does."""
    calls = []
    orig = W._literal_decode_fast

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(W, "_literal_decode_fast", spy)
    arr = np.random.default_rng(3).integers(0, 256, (12, 12, 3), dtype=np.uint8)
    blob = encode_webp(arr)
    assert np.array_equal(decode_webp(blob), arr)
    assert calls, "fast path did not engage on an own-encoded file"
    import struct

    cut = len(blob) - 12
    truncated = blob[:20] + blob[20:cut]
    # keep the VP8L chunk length honest about the cut so the chunk
    # check doesn't fire first
    truncated = (
        truncated[:16] + struct.pack("<I", cut - 20) + truncated[20:]
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_webp(truncated)
    monkeypatch.setattr(W, "FAST_LITERAL", False)
    with pytest.raises(ValueError, match="truncated"):
        decode_webp(truncated)


def test_alpha_channel_rejected_loudly(monkeypatch):
    """A conformant stream carrying non-opaque alpha must raise, not
    silently drop the channel (ADVICE r06) — on both decode paths."""
    for fast in (True, False):
        monkeypatch.setattr(W, "FAST_LITERAL", fast)
        bw = W._BitWriter()
        _header(bw, 2, 2)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(0, 1)  # no meta prefix
        _write_simple_code(bw, [10])  # green
        _write_simple_code(bw, [20])  # red
        _write_simple_code(bw, [30])  # blue
        _write_simple_code(bw, [128])  # alpha: constant but NOT opaque
        _write_simple_code(bw, [0])  # distance (unused)
        with pytest.raises(NotImplementedError, match="alpha"):
            decode_webp(_container(bw))


def test_simple_code_symbol_out_of_alphabet_rejected():
    """A corrupt simple code declaring symbol 200 in the 40-symbol
    distance alphabet must fail at parse time (ADVICE r06), not via a
    garbage distance far downstream."""
    bw = W._BitWriter()
    _header(bw, 1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    _write_simple_code(bw, [10])
    _write_simple_code(bw, [20])
    _write_simple_code(bw, [30])
    _write_simple_code(bw, [255])
    _write_simple_code(bw, [200])  # distance alphabet is 40 symbols
    with pytest.raises(ValueError, match="out of range"):
        decode_webp(_container(bw))


# ------------------------------------------------------ VP8X container


def _vp8x_wrap(blob: bytes, canvas_w: int, canvas_h: int,
               flags: int = 0, pre_chunks: bytes = b"") -> bytes:
    """Rewrap a simple-format VP8L file as an extended (VP8X) still."""
    import struct

    vp8l = blob[12:]  # fourcc + length + payload (+ even pad)
    vx = (b"VP8X" + struct.pack("<I", 10) + bytes([flags]) + b"\x00\x00\x00"
          + (canvas_w - 1).to_bytes(3, "little")
          + (canvas_h - 1).to_bytes(3, "little"))
    body = b"WEBP" + vx + pre_chunks + vp8l
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_vp8x_wrapped_vp8l_decodes():
    """An extended-format still image with a VP8L bitstream is a
    conformant file shape (RFC 9649 section 2.5) — decode it, on both
    decode paths, with and without pixel-neutral metadata chunks."""
    import struct

    rng = np.random.default_rng(42)
    arr = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
    blob = encode_webp(arr)
    iccp = b"ICCP" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd: padded
    xmp = b"XMP " + struct.pack("<I", 4) + b"meta"
    for pre in (b"", iccp, iccp + xmp):
        wrapped = _vp8x_wrap(blob, 7, 11, pre_chunks=pre)
        assert np.array_equal(decode_webp(wrapped), arr)
    # reference loop path too
    orig = W.FAST_LITERAL
    try:
        W.FAST_LITERAL = False
        assert np.array_equal(decode_webp(_vp8x_wrap(blob, 7, 11)), arr)
    finally:
        W.FAST_LITERAL = orig


def test_vp8x_out_of_subset_rejections():
    import struct

    arr = np.full((4, 4, 3), 9, np.uint8)
    blob = encode_webp(arr)
    # canvas/bitstream size mismatch is corrupt, not acceptable
    with pytest.raises(ValueError, match="canvas"):
        decode_webp(_vp8x_wrap(blob, 5, 4))
    # animation flag
    with pytest.raises(NotImplementedError, match="animated"):
        decode_webp(_vp8x_wrap(blob, 4, 4, flags=0x02))
    # lossy alpha chunk before the bitstream
    alph = b"ALPH" + struct.pack("<I", 2) + b"\x00\x00"
    with pytest.raises(NotImplementedError, match="ALPH"):
        decode_webp(_vp8x_wrap(blob, 4, 4, pre_chunks=alph))
    # unknown chunk fails loudly rather than being skipped
    junk = b"JUNK" + struct.pack("<I", 2) + b"zz"
    with pytest.raises(ValueError, match="unknown chunk"):
        decode_webp(_vp8x_wrap(blob, 4, 4, pre_chunks=junk))
    # truncated metadata chunk
    cut = b"EXIF" + struct.pack("<I", 40) + b"short"
    with pytest.raises(ValueError, match="truncated"):
        decode_webp(_vp8x_wrap(blob, 4, 4, pre_chunks=cut))
    # no image chunk at all
    wrapped = _vp8x_wrap(blob, 4, 4)
    no_image = wrapped[:30]
    no_image = no_image[:4] + struct.pack("<I", len(no_image) - 8) + no_image[8:]
    with pytest.raises(ValueError, match="no image"):
        decode_webp(no_image)


def test_decoder_fuzz_raises_cleanly():
    """decode_webp on arbitrary garbage and on bit-flipped valid files
    must raise ValueError/NotImplementedError — never IndexError,
    KeyError, struct.error, or a silent wrong shape."""
    rng = np.random.default_rng(1234)
    ok_kinds = (ValueError, NotImplementedError)
    for _ in range(200):
        n = int(rng.integers(0, 200))
        blob = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        try:
            decode_webp(blob)
        except ok_kinds:
            pass
    arr = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    good = encode_webp(arr)
    for _ in range(300):
        b = bytearray(good)
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(0, len(b)))] ^= 1 << int(rng.integers(0, 8))
        try:
            out = decode_webp(bytes(b))
            assert out.dtype == np.uint8 and out.ndim == 3 and out.shape[2] == 3
        except ok_kinds:
            pass


def test_fast_path_huge_decl_rejected_before_allocation():
    """A tiny stream whose header declares a huge pixel count must be
    rejected by the O(1) plausibility gate (min bits/pixel x n vs
    stream length) BEFORE the O(n) position/output allocations — one
    adversarial ~30-byte row must not stall an executor touching
    gigabytes (code-review r7)."""
    import time
    from types import SimpleNamespace

    two_sym = SimpleNamespace(code_map={10: (0, 1), 20: (1, 1)})
    const = SimpleNamespace(code_map={7: (0, 0)})
    t0 = time.time()
    with pytest.raises(ValueError, match="truncated"):
        W._literal_decode_fast(b"\x00" * 16, 0, 1 << 28, [two_sym, const, const, const])
    assert time.time() - t0 < 0.5, "reject must happen before the O(n) work"


# ------------------------------------ full-spec lossless decode (r7)


def test_dist_offsets_table_matches_generative_rule():
    """The 120-entry 2D distance plane table (RFC 9649 §4.2.2) equals
    its generative rule — {(x,0): 1<=x<=8} ∪ {(x,y): 1<=y<=7,
    -7<=x<=8} sorted by (x²+y², -y, +x before -x) — so a transcription
    slip in either the literal or the rule fails here instead of
    silently mis-decoding a foreign backref."""
    cands = [(x, 0) for x in range(1, 9)]
    cands += [(x, y) for y in range(1, 8) for x in range(-7, 9)]
    rule = sorted(cands, key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], p[0] < 0))
    assert len(W._DIST_OFFSETS) == 120
    assert len(set(W._DIST_OFFSETS)) == 120
    assert tuple(rule) == W._DIST_OFFSETS


def test_decoder_lz77_2d_distance():
    """2D distance plane codes: plane 1 = (0, 1) copies the pixel one
    row up; plane 4 = (-1, 1) copies up-right — both discriminate
    against off-by-one table errors (plane 3 = (1, 1) would read a
    different red)."""
    w, h = 4, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    _write_normal_two(bw, 256 + 24, 42, 256 + 0)  # literal 42 | len-1 backref
    _write_simple_code(bw, [10, 20])  # red: 1 bit
    _write_simple_code(bw, [30])  # blue
    _write_simple_code(bw, [255])  # alpha
    _write_simple_code(bw, [0, 3])  # dist prefix 0 -> plane 1; 3 -> plane 4
    reds = [10, 20, 20, 10]
    for r in reds:  # row 0: literals
        bw.write(0, 1)  # green '0' -> literal 42
        bw.write(0 if r == 10 else 1, 1)
    planes = [1, 4, 1, 4]  # row 1: backrefs
    for p in planes:
        bw.write(1, 1)  # green '1' -> length-1 backref
        bw.write(0 if p == 1 else 1, 1)
    # simulate: plane 1 -> dist w; plane 4 -> dist w - 1
    expect = list(reds)
    for p in planes:
        d = w if p == 1 else w - 1
        expect.append(expect[len(expect) - d])
    out = decode_webp(_container(bw))
    assert out[:, :, 0].ravel().tolist() == expect
    assert np.all(out[:, :, 1] == 42) and np.all(out[:, :, 2] == 30)


@pytest.mark.parametrize("mode", list(range(14)))
def test_decoder_predictor_transform_all_modes(mode):
    """Each of the 14 predictor modes inverts exactly: residuals are
    forward-computed by an independent RFC-pseudocode transcription,
    streamed as literals behind a single-tile predictor transform, and
    the decode must reproduce the target image bit-for-bit."""
    rng = np.random.default_rng(1000 + mode)
    w = h = 8
    tgt = rng.integers(0, 256, (w * h, 4))
    tgt[:, 3] = 255  # opaque corpus
    target = [tuple(int(v) for v in row) for row in tgt]
    res = _predictor_residuals(target, w, h, mode)
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor transform
    bw.write(1, 3)  # size_bits = 2 + 1 = 3 -> one 8x8 tile
    _write_image_stream(bw, [(0, mode, 0, 255)], level0=False)
    bw.write(0, 1)  # no more transforms
    _write_image_stream(bw, res, level0=True)
    out = decode_webp(_container(bw))
    want = np.array([p[:3] for p in target], np.uint8).reshape(h, w, 3)
    assert np.array_equal(out, want)


def test_decoder_cross_color_transform():
    """Cross-color inverse: signed per-tile multipliers (green_to_red
    in the tile's BLUE channel, green_to_blue in GREEN, red_to_blue in
    RED), delta = (int8·int8) >> 5 arithmetic, blue fed by the NEW
    red. Residuals forward-computed independently."""
    g2r, g2b, r2b = 0x90, 0x35, 0xF0  # mixed signs as int8

    def delta(t, c):
        t8 = t - 256 if t >= 128 else t
        c8 = c - 256 if c >= 128 else c
        return (t8 * c8) >> 5  # python >> floors == C arithmetic shift

    rng = np.random.default_rng(7)
    w = h = 4
    tgt = [
        (int(r), int(g), int(b), 255)
        for r, g, b in rng.integers(0, 256, (w * h, 3))
    ]
    res = [
        (
            (r - delta(g2r, g)) & 255,
            g,
            (b - delta(g2b, g) - delta(r2b, r)) & 255,
            255,
        )
        for r, g, b, _ in tgt
    ]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)  # cross-color transform
    bw.write(0, 3)  # size_bits = 2 -> one 4x4 tile
    _write_image_stream(bw, [(r2b, g2b, g2r, 255)], level0=False)
    bw.write(0, 1)
    _write_image_stream(bw, res, level0=True)
    out = decode_webp(_container(bw))
    want = np.array([p[:3] for p in tgt], np.uint8).reshape(h, w, 3)
    assert np.array_equal(out, want)


def test_decoder_color_indexing_bundled():
    """Color-indexing with pixel bundling: a 4-color palette packs 4
    two-bit indices per green byte (LSB-first = leftmost), the image
    is entropy-coded at the sub-sampled width, and palette entries are
    delta-coded. 9 columns exercises the partial last bundle."""
    palette = [(10, 20, 30, 255), (40, 5, 60, 255), (7, 8, 9, 255), (200, 100, 50, 255)]
    deltas = [palette[0]] + [
        tuple((palette[i][c] - palette[i - 1][c]) & 255 for c in range(4))
        for i in range(1, 4)
    ]
    w, h = 9, 2
    rows = [[0, 1, 2, 3, 0, 1, 2, 3, 0], [3, 3, 3, 3, 2, 2, 1, 1, 0]]

    def pack(row):
        out = []
        for i in range(0, len(row), 4):
            grp = row[i : i + 4]
            out.append(sum(v << (2 * j) for j, v in enumerate(grp)))
        return out

    packed = [g for row in rows for g in pack(row)]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)  # color-indexing transform
    bw.write(3, 8)  # 4 colors
    _write_image_stream(bw, deltas, level0=False)
    bw.write(0, 1)
    _write_image_stream(bw, [(0, g, 0, 255) for g in packed], level0=True)
    out = decode_webp(_container(bw))
    want = np.array(
        [palette[i][:3] for row in rows for i in row], np.uint8
    ).reshape(h, w, 3)
    assert np.array_equal(out, want)


def test_decoder_color_indexing_oob_index_fails_loudly():
    """An index past the palette (transparent black per the spec) must
    raise its own range error at the lookup, not surface as a
    misleading downstream alpha failure (ADVICE r07) — and as
    NotImplementedError, because the stream is SPEC-LEGAL and merely
    outside the RGB-only subset: imagecodec.decode routes that class
    to the PIL fallback hook (code-review r08)."""
    bw = W._BitWriter()
    _header(bw, 4, 1)
    bw.write(1, 1)
    bw.write(3, 2)
    bw.write(2, 8)  # 3 colors -> 2-bit indices; index 3 is OOB
    _write_image_stream(
        bw, [(1, 2, 3, 255), (1, 1, 1, 0), (1, 1, 1, 0)], level0=False
    )
    bw.write(0, 1)
    packed = 0 | (1 << 2) | (2 << 4) | (3 << 6)  # last index OOB
    _write_image_stream(bw, [(0, packed, 0, 255)], level0=True)
    with pytest.raises(NotImplementedError, match="palette range"):
        decode_webp(_container(bw))


def test_encoder_palette_and_subtract_green_are_exclusive():
    """encode_webp(palette=True, subtract_green=True) must refuse —
    the palette stream has no SUBTRACT_GREEN slot, so an explicit
    request would be silently dropped (ADVICE r07). Leaving
    subtract_green unset keeps each profile's default."""
    img = np.zeros((4, 4, 3), np.uint8)
    img[:, :, 0] = 7
    with pytest.raises(ValueError, match="mutually"):
        W.encode_webp(img, subtract_green=True, palette=True)
    # unset: literal profile defaults subtract_green ON, palette OFF
    assert np.array_equal(decode_webp(W.encode_webp(img)), img)
    assert np.array_equal(decode_webp(W.encode_webp(img, palette=True)), img)
    # explicit False stays valid with either profile
    assert np.array_equal(
        decode_webp(W.encode_webp(img, subtract_green=False, palette=True)), img
    )


def test_decoder_meta_prefix_groups():
    """Meta prefix codes: a 2-tile entropy image (group = red<<8 |
    green) selects between two prefix-code groups with different
    single-symbol literals — left tile decodes through group 0, right
    through group 1."""
    w, h = 8, 4
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta prefix codes ON
    bw.write(0, 3)  # meta_bits = 2 -> 4px tiles -> 2x1 entropy image
    _write_image_stream(bw, [(0, 0, 0, 255), (0, 1, 0, 255)], level0=False)
    for r, g, b in ((1, 100, 2), (3, 200, 4)):  # group 0, group 1
        _write_simple_code(bw, [g])
        _write_simple_code(bw, [r])
        _write_simple_code(bw, [b])
        _write_simple_code(bw, [255])
        _write_simple_code(bw, [0])
    # every channel in both groups is a zero-bit single-symbol code:
    # the pixel data consumes no bits at all
    out = decode_webp(_container(bw))
    assert np.all(out[:, :4] == np.array([1, 100, 2], np.uint8))
    assert np.all(out[:, 4:] == np.array([3, 200, 4], np.uint8))


def test_decoder_transform_chain_reverse_order():
    """Two transforms invert in REVERSE stream order: stream lists
    [predictor, subtract-green], so encode-side the predictor ran
    first and subtract-green second — decode must undo subtract-green
    before the predictor inverse."""
    rng = np.random.default_rng(99)
    w = h = 8
    tgt = [
        (int(r), int(g), int(b), 255)
        for r, g, b in rng.integers(0, 256, (w * h, 3))
    ]
    res = _predictor_residuals(tgt, w, h, 12)
    sg = [((r - g) & 255, g, (b - g) & 255, a) for r, g, b, a in res]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor
    bw.write(1, 3)  # one 8x8 tile
    _write_image_stream(bw, [(0, 12, 0, 255)], level0=False)
    bw.write(1, 1)
    bw.write(2, 2)  # subtract green
    bw.write(0, 1)
    _write_image_stream(bw, sg, level0=True)
    out = decode_webp(_container(bw))
    want = np.array([p[:3] for p in tgt], np.uint8).reshape(h, w, 3)
    assert np.array_equal(out, want)


def _predictor_residuals_tiled(target, w, h, size_bits, modes, tw):
    """Forward predictor transform with a REAL tile grid: the mode for
    each interior pixel comes from modes[(y>>size_bits)*tw +
    (x>>size_bits)] — the indexing a single-tile test never exercises
    (tw=th=1 makes every tile index 0)."""
    res = []
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = (0, 0, 0, 255)
        elif y == 0:
            pred = target[pos - 1]
        elif x == 0:
            pred = target[pos - w]
        else:
            mode = modes[(y >> size_bits) * tw + (x >> size_bits)]
            pred = _rfc_predict(
                mode,
                target[pos - 1],
                target[pos - w],
                target[pos - w + 1],  # x=w-1: current row's leftmost
                target[pos - w - 1],
            )
        res.append(tuple((target[pos][c] - pred[c]) & 255 for c in range(4)))
    return res


def test_decoder_predictor_multi_tile_grid():
    """A 2x2 tile grid with four DIFFERENT predictor modes: pins the
    decoder's per-pixel tile-index arithmetic (a tw/th swap or wrong
    stride would pass every single-tile test)."""
    rng = np.random.default_rng(4242)
    w = h = 8
    size_bits = 2  # 4px tiles -> 2x2 tile grid
    modes = [2, 11, 7, 12]
    tgt = rng.integers(0, 256, (w * h, 4))
    tgt[:, 3] = 255
    target = [tuple(int(v) for v in row) for row in tgt]
    res = _predictor_residuals_tiled(target, w, h, size_bits, modes, tw=2)
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor transform
    bw.write(size_bits - 2, 3)
    _write_image_stream(bw, [(0, m, 0, 255) for m in modes], level0=False)
    bw.write(0, 1)  # no more transforms
    _write_image_stream(bw, res, level0=True)
    out = decode_webp(_container(bw))
    want = np.array([p[:3] for p in target], np.uint8).reshape(h, w, 3)
    assert np.array_equal(out, want)


def test_decoder_cross_color_multi_tile():
    """Two cross-color tiles with DIFFERENT multiplier sets along x:
    pins the per-pixel tile lookup (ys*tw+xs) against a stride bug the
    single-tile test cannot see."""
    sets = [(0x90, 0x35, 0xF0), (0x11, 0xE2, 0x4C)]  # (g2r, g2b, r2b)

    def delta(t, c):
        t8 = t - 256 if t >= 128 else t
        c8 = c - 256 if c >= 128 else c
        return (t8 * c8) >> 5

    rng = np.random.default_rng(17)
    w, h = 8, 4
    size_bits = 2  # 4px tiles -> 2x1 tile grid
    tgt = [
        (int(r), int(g), int(b), 255)
        for r, g, b in rng.integers(0, 256, (w * h, 3))
    ]
    res = []
    for pos, (r, g, b, _) in enumerate(tgt):
        g2r, g2b, r2b = sets[(pos % w) >> size_bits]
        res.append(
            (
                (r - delta(g2r, g)) & 255,
                g,
                (b - delta(g2b, g) - delta(r2b, r)) & 255,
                255,
            )
        )
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)  # cross-color transform
    bw.write(size_bits - 2, 3)
    _write_image_stream(
        bw, [(r2b, g2b, g2r, 255) for g2r, g2b, r2b in sets], level0=False
    )
    bw.write(0, 1)
    _write_image_stream(bw, res, level0=True)
    out = decode_webp(_container(bw))
    want = np.array([p[:3] for p in tgt], np.uint8).reshape(h, w, 3)
    assert np.array_equal(out, want)


@pytest.mark.parametrize(
    "n_colors,wb,w",
    [(2, 3, 11), (20, 0, 5)],  # 8 indices/byte + partial bundle; no bundling
)
def test_decoder_color_indexing_other_widths(n_colors, wb, w):
    """Bundling widths beyond the 2-bit case: wb=3 (1-bit indices, 8
    per byte, partial last bundle) and wb=0 (>16 colors, no bundling).
    The committed 4-color test only covers wb=2."""
    rng = np.random.default_rng(n_colors)
    palette = [
        (int(r), int(g), int(b), 255)
        for r, g, b in rng.integers(0, 256, (n_colors, 3))
    ]
    deltas = [palette[0]] + [
        tuple((palette[i][c] - palette[i - 1][c]) & 255 for c in range(4))
        for i in range(1, n_colors)
    ]
    h = 2
    rows = [[int(v) for v in rng.integers(0, n_colors, w)] for _ in range(h)]
    per_byte = 1 << wb
    bits = 8 >> wb
    packed = []
    for row in rows:
        for i in range(0, w, per_byte):
            grp = row[i : i + per_byte]
            packed.append(sum(v << (bits * j) for j, v in enumerate(grp)))
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)  # color-indexing transform
    bw.write(n_colors - 1, 8)
    _write_image_stream(bw, deltas, level0=False)
    bw.write(0, 1)
    _write_image_stream(bw, [(0, g, 0, 255) for g in packed], level0=True)
    out = decode_webp(_container(bw))
    want = np.array(
        [palette[i][:3] for row in rows for i in row], np.uint8
    ).reshape(h, w, 3)
    assert np.array_equal(out, want)


def test_decoder_chain_color_indexing_then_predictor():
    """A width-changing chain: color-indexing (read first) shrinks the
    coded width, so the predictor (read second) is coded — and must be
    inverted — on the PACKED width before the palette expands it back.
    Pins cur_w propagation through the transform list."""
    palette = [(10, 20, 30, 255), (40, 5, 60, 255), (7, 8, 9, 255), (200, 100, 50, 255)]
    deltas = [palette[0]] + [
        tuple((palette[i][c] - palette[i - 1][c]) & 255 for c in range(4))
        for i in range(1, 4)
    ]
    w, h = 8, 4  # 4 colors -> wb=2 -> packed width 2
    pw = 2
    rng = np.random.default_rng(5)
    rows = [[int(v) for v in rng.integers(0, 4, w)] for _ in range(h)]
    packed = [
        (0, sum(v << (2 * j) for j, v in enumerate(row[i : i + 4])), 0, 255)
        for row in rows
        for i in range(0, w, 4)
    ]
    res = _predictor_residuals(packed, pw, h, 2)  # mode 2 (T) on packed img
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)  # color-indexing first
    bw.write(3, 8)  # 4 colors
    _write_image_stream(bw, deltas, level0=False)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor second: tiles subsample the PACKED width
    bw.write(1, 3)  # size_bits=3 -> one tile over 2x4
    _write_image_stream(bw, [(0, 2, 0, 255)], level0=False)
    bw.write(0, 1)
    _write_image_stream(bw, res, level0=True)
    out = decode_webp(_container(bw))
    want = np.array(
        [palette[i][:3] for row in rows for i in row], np.uint8
    ).reshape(h, w, 3)
    assert np.array_equal(out, want)


def test_decoder_meta_groups_with_bit_consuming_codes():
    """Meta prefix groups whose codes actually consume bits: two
    groups with two-symbol green codes, pixels alternating within each
    tile — pins the slow loop's per-pixel group switch interleaved
    with real bit reads (the committed meta test uses only zero-bit
    single-symbol codes)."""
    w, h = 8, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta prefix codes ON
    bw.write(0, 3)  # meta_bits=2 -> 4px tiles -> 2x1 entropy image
    _write_image_stream(bw, [(0, 0, 0, 255), (0, 1, 0, 255)], level0=False)
    group_greens = [(5, 9), (7, 8)]
    for lo_hi in group_greens:
        _write_simple_code(bw, list(lo_hi))  # green: 1 bit/pixel
        _write_simple_code(bw, [1])  # red
        _write_simple_code(bw, [2])  # blue
        _write_simple_code(bw, [255])  # alpha
        _write_simple_code(bw, [0])  # distance
    want_green = []
    for pos in range(w * h):
        x = pos % w
        lo, hi = group_greens[x >> 2]
        bit = (pos + (x >> 2)) & 1  # alternate, offset per group
        bw.write(bit, 1)
        want_green.append(hi if bit else lo)
    out = decode_webp(_container(bw))
    assert out[:, :, 1].ravel().tolist() == want_green
    assert np.all(out[:, :, 0] == 1) and np.all(out[:, :, 2] == 2)


def test_fast_path_all_constant_channels_direct():
    """All-single-symbol channels consume zero bits: the fast path
    emits the constant image directly (stream content irrelevant),
    matching the reference loop's zero-bit reads."""
    from types import SimpleNamespace

    g = SimpleNamespace(code_map={11: (0, 0)})
    r = SimpleNamespace(code_map={22: (0, 0)})
    b = SimpleNamespace(code_map={33: (0, 0)})
    a = SimpleNamespace(code_map={255: (0, 0)})
    out, end_bit = W._literal_decode_fast(b"", 0, 5, [g, r, b, a])
    assert end_bit == 0  # zero bits consumed
    assert out.shape == (5, 4)
    # stream order g,r,b,a -> columns R,G,B,A
    assert (out[:, 0] == 22).all() and (out[:, 1] == 11).all()
    assert (out[:, 2] == 33).all() and (out[:, 3] == 255).all()


# ------------------------------------------------- LZ77 profile + fast path


def test_prefix_encode_value_inverts_prefix_value():
    """_prefix_encode_value must be the exact inverse of the decoder's
    _prefix_value over the full length range (1..4096) and the
    distance-code range the encoder emits (121..16504 for dist 1..w)."""
    for v in list(range(1, 4097)) + [121, 500, 1000, 4216, 16504]:
        code, nbits, extra = W._prefix_encode_value(v)
        assert 0 <= extra < (1 << nbits) if nbits else extra == 0
        bw = W._BitWriter()
        if nbits:
            bw.write(extra, nbits)
        br = W._BitReader(bw.bytes() if nbits else b"")
        assert W._prefix_value(code, br) == v, v
    assert W._prefix_encode_value(4096)[0] == 23  # spec-max length code


def test_roundtrip_lz77_profile_exact(monkeypatch):
    """The lz77 profile roundtrips exactly on run-heavy, row-repeating,
    noise, and constant images — on BOTH decode paths — and compresses
    the repetitive shapes it targets."""
    rng = np.random.RandomState(5)
    h, w = 48, 64
    banded = np.zeros((h, w, 3), np.uint8)
    banded[:, :, 0] = (np.arange(w) // 8 * 31).astype(np.uint8)
    banded[:, :, 1] = (np.arange(h)[:, None] // 4 * 13).astype(np.uint8)
    banded[:, :, 2] = 99
    banded[10:20, 20:40] = rng.randint(0, 256, (10, 20, 3)).astype(np.uint8)
    imgs = [
        banded,
        np.full((7, 9, 3), 123, np.uint8),  # one giant overlapping run
        rng.randint(0, 256, (11, 13, 3)).astype(np.uint8),  # noise: no copies
        np.tile(rng.randint(0, 256, (1, 16, 3)).astype(np.uint8), (12, 1, 1)),
        np.zeros((1, 1, 3), np.uint8),
        np.zeros((1, 30, 3), np.uint8),  # single row: dist-1 runs only
        np.zeros((30, 1, 3), np.uint8),  # single column: w == 1
    ]
    for arr in imgs:
        for sg in (True, False):
            blob = encode_webp(arr, subtract_green=sg, lz77=True)
            monkeypatch.setattr(W, "FAST_LITERAL", True)
            fast = decode_webp(blob)
            monkeypatch.setattr(W, "FAST_LITERAL", False)
            slow = decode_webp(blob)
            assert np.array_equal(fast, slow)
            assert np.array_equal(fast, arr)
    assert len(encode_webp(banded, lz77=True)) < len(encode_webp(banded)) / 3


def test_roundtrip_lz77_hypothesis_exact():
    """Property: the lz77 profile is lossless on ANY image, including
    low-cardinality ones that trigger dense overlapping runs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra import numpy as hnp

    @settings(max_examples=80, deadline=None)
    @given(
        hnp.arrays(
            dtype=np.uint8,
            shape=st.tuples(st.integers(1, 12), st.integers(1, 12), st.just(3)),
            elements=st.integers(0, 3),  # low cardinality -> runs
        )
    )
    def check(arr):
        arr = arr * 80  # spread values so codes vary in length
        assert np.array_equal(decode_webp(encode_webp(arr, lz77=True)), arr)

    check()


def test_lz77_fast_path_engages_and_matches_reference(monkeypatch):
    """Own lz77-profile files actually take _lz77_decode_fast, and the
    hand-built foreign LZ77 spec streams (1D backref, 2D plane codes)
    decode identically on both paths."""
    calls = []
    orig = W._lz77_decode_fast

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(W, "_lz77_decode_fast", spy)
    arr = np.tile(
        np.random.RandomState(4).randint(0, 256, (1, 20, 3)).astype(np.uint8),
        (15, 1, 1),
    )
    blob = encode_webp(arr, lz77=True)
    assert np.array_equal(decode_webp(blob), arr)
    assert calls, "token-level fast path did not engage on an lz77 stream"


def test_lz77_fast_path_overlapping_and_2d(monkeypatch):
    """Foreign-stream shapes the own encoder never emits, pinned equal
    across paths: an overlapping dist<length copy (run-fill idiom)
    addressed through a 2D plane code, with extra bits on both the
    length and the distance prefix. 4x2 image: two literals, then one
    length-6 copy at plane code 6 = (2, 0) -> dist 2 (len prefix 4:
    extra=1, offset=4, extra bit 1 -> 6; dist prefix 4: extra=1,
    offset=4, extra bit 1 -> dcode 6)."""
    w, h = 4, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    _write_normal_two(bw, 256 + 24, 0, 256 + 4)
    _write_simple_code(bw, [10, 77])  # red
    _write_simple_code(bw, [30])  # blue
    _write_simple_code(bw, [255])  # alpha
    _write_simple_code(bw, [4])  # dist prefix 4: extra=1, offset=4
    for r in (10, 77):
        bw.write(0, 1)
        bw.write(0 if r == 10 else 1, 1)
    bw.write(1, 1)  # len prefix 4
    bw.write(1, 1)  # len extra -> length 4+1+1 = 6
    bw.write(1, 1)  # dist extra 1 -> dcode 4+1+1 = 6 -> plane 6 = (2,0) = dist 2
    blob = _container(bw)
    expect_red = [10, 77] + [10, 77, 10, 77, 10, 77]
    for fast in (True, False):
        monkeypatch.setattr(W, "FAST_LITERAL", fast)
        out = decode_webp(blob)
        assert out[:, :, 0].ravel().tolist() == expect_red, fast
        assert np.all(out[:, :, 1] == 0) and np.all(out[:, :, 2] == 30)


def test_lz77_fast_path_error_parity(monkeypatch):
    """Invalid LZ77 streams raise the same errors on both paths: a
    backward reference past the image end, one before the image start,
    and a truncated token stream."""
    import struct

    def _past_end():
        # 2x2 image: one literal then a length-6 copy (1 + 6 > 4)
        bw = W._BitWriter()
        _header(bw, 2, 2)
        bw.write(0, 1)
        bw.write(0, 1)
        bw.write(0, 1)
        _write_normal_two(bw, 256 + 24, 7, 256 + 4)
        _write_simple_code(bw, [20])  # red
        _write_simple_code(bw, [30])  # blue
        _write_simple_code(bw, [255])  # alpha
        _write_simple_code(bw, [13])  # dist prefix 13 -> dist 1 w/ extra 24
        bw.write(0, 1)  # literal
        bw.write(1, 1)  # len prefix 4
        bw.write(1, 1)  # len extra -> length 6
        bw.write(24, 5)  # dist extra -> dist 1
        return _container(bw)

    def _before_start():
        # first token is a backward reference
        bw = W._BitWriter()
        _header(bw, 2, 2)
        bw.write(0, 1)
        bw.write(0, 1)
        bw.write(0, 1)
        _write_normal_two(bw, 256 + 24, 7, 256 + 0)  # len-1 backref
        _write_simple_code(bw, [20])
        _write_simple_code(bw, [30])
        _write_simple_code(bw, [255])
        _write_simple_code(bw, [0])  # dist prefix 0 -> plane 1
        bw.write(1, 1)  # backref at pixel 0
        return _container(bw)

    arr = np.tile(
        np.random.RandomState(8).randint(0, 256, (1, 24, 3)).astype(np.uint8),
        (24, 1, 1),
    )
    full = encode_webp(arr, lz77=True)
    cut = len(full) - 10
    truncated = full[:16] + struct.pack("<I", cut - 20) + full[20:cut]

    for fast in (True, False):
        monkeypatch.setattr(W, "FAST_LITERAL", fast)
        with pytest.raises(ValueError, match="past image end"):
            decode_webp(_past_end())
        with pytest.raises(ValueError, match="before image start"):
            decode_webp(_before_start())
        with pytest.raises(ValueError, match="truncated"):
            decode_webp(truncated)


def test_encoder_lz77_and_palette_are_exclusive():
    arr = np.zeros((4, 4, 3), np.uint8)
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_webp(arr, palette=True, lz77=True)


def test_lz77_fast_path_size_cap_falls_back(monkeypatch):
    """Reachable windows past _FAST_DECODE_MAX_BYTES take the
    O(pixels)-memory reference loop instead of the per-bit-position
    fast paths (code-review r08 x2: the cap guards BOTH paths and
    measures the window the arrays actually cover) — same output."""
    rng = np.random.RandomState(3)
    img = np.tile(rng.randint(0, 256, (1, 40, 3)).astype(np.uint8), (30, 1, 1))
    blob = encode_webp(img, lz77=True)
    calls = []
    orig = W._lz77_decode_fast

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(W, "_lz77_decode_fast", spy)
    assert np.array_equal(decode_webp(blob), img)
    assert calls, "sanity: under the cap the fast path runs"
    calls.clear()
    monkeypatch.setattr(W, "_FAST_DECODE_MAX_BYTES", 8)
    assert np.array_equal(decode_webp(blob), img)  # loop path, same pixels
    assert not calls, "oversized stream must not take the fast path"


def test_literal_fast_path_chunks_and_window(monkeypatch):
    """The literal fast path decodes in pixel chunks (code-review r08
    third pass: pixels are independent, so memory stays bounded at
    any image size WITHOUT falling back to the 60x-slower loop), and
    both paths build arrays over the reachable WINDOW with ABSOLUTE
    end positions: a sub-image decode late in the stream (the palette
    profile's second image) pins the slicing arithmetic."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (9, 9, 3)).astype(np.uint8)
    blob = encode_webp(img)
    calls = []
    orig = W._literal_decode_fast

    def spy(stream, start_bit, n, decs):
        calls.append((start_bit, n))
        return orig(stream, start_bit, n, decs)

    monkeypatch.setattr(W, "_literal_decode_fast", spy)
    assert np.array_equal(decode_webp(blob), img)
    assert len(calls) == 1  # 81 px: one chunk
    calls.clear()
    monkeypatch.setattr(W, "_FAST_LITERAL_CHUNK", 20)
    assert np.array_equal(decode_webp(blob), img)  # chunked, same pixels
    assert len(calls) == 5 and [c[1] for c in calls] == [20, 20, 20, 20, 1]
    assert calls[1][0] > calls[0][0]  # each chunk resumes at the prior end
    calls.clear()
    monkeypatch.setattr(W, "_FAST_LITERAL_CHUNK", 1 << 16)
    # palette profile: two spatially-coded images in one stream — the
    # second (bundled indices) starts at a nonzero bit offset, so a
    # relative-vs-absolute end-position bug corrupts it
    pal = np.stack([np.arange(16), (np.arange(16) * 7) % 256,
                    (np.arange(16) * 13) % 256], axis=1).astype(np.uint8)
    pimg = pal[rng.randint(0, 16, (12, 17))]
    pblob = encode_webp(pimg, palette=True)
    assert np.array_equal(decode_webp(pblob), pimg)
    assert any(c[0] > 0 for c in calls), "no mid-stream sub-image decoded"


# ---------------------------------------------------------------- auto profile


def test_auto_profile_picks_by_family():
    """profile="auto" (VERDICT r08 #4) routes each fixture family to
    the profile that dominates it in the sweep: noise -> literal,
    low-color art -> palette, banded/run-heavy -> lz77 — and every
    auto-encoded stream still roundtrips exactly."""
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, (12, 3), dtype=np.uint8)
    art = pal[rng.integers(0, 12, (48, 64))]
    banded = np.repeat(
        rng.integers(0, 256, (6, 1, 3), dtype=np.uint8), 8, axis=0
    ).repeat(64, axis=1)
    assert W._auto_profile(noise) == "literal"
    assert W._auto_profile(art) == "palette"
    assert W._auto_profile(banded) == "lz77"
    for img in (noise, art, banded):
        out = decode_webp(encode_webp(img, profile="auto"))
        np.testing.assert_array_equal(out[:, :, :3], img)


def test_auto_profile_matches_explicit_flag_bytes():
    """auto is pure routing: the bytes it emits are identical to the
    explicit-flag encoder for the profile it picked, so the pinned
    fixture streams remain reachable and stable."""
    rng = np.random.default_rng(12)
    noise = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    assert encode_webp(noise, profile="auto") == encode_webp(noise)
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    art = pal[rng.integers(0, 5, (16, 24))]
    assert encode_webp(art, profile="auto") == encode_webp(art, palette=True)
    banded = np.repeat(rng.integers(0, 256, (1, 24, 3), dtype=np.uint8), 16, axis=0)
    assert encode_webp(banded, profile="auto") == encode_webp(banded, lz77=True)


def _profile_sweep_corpus():
    """Noise, gradient, banded, flat, low-color art and run-dominated
    images, plus eight committed fixture images."""
    import os

    import pyarrow.parquet as pq

    rng = np.random.default_rng(42)
    out = [
        ("noise_64", rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)),
        ("noise_256", rng.integers(0, 256, (256, 256, 3), dtype=np.uint8)),
        ("gradient", np.stack(np.meshgrid(
            np.arange(256, dtype=np.uint8),
            np.arange(256, dtype=np.uint8), indexing="ij",
        ) + [np.full((256, 256), 127, dtype=np.uint8)], axis=2)),
        ("banded_rows", np.repeat(
            rng.integers(0, 256, (16, 1, 3), dtype=np.uint8), 16, axis=0
        ).repeat(256, axis=1)),
        ("banded_cols", np.repeat(
            rng.integers(0, 256, (1, 16, 3), dtype=np.uint8), 16, axis=1
        ).repeat(256, axis=0)),
        ("flat", np.full((128, 128, 3), 77, dtype=np.uint8)),
    ]
    for k in (4, 16, 200):
        pal = rng.integers(0, 256, (k, 3), dtype=np.uint8)
        out.append((f"art_{k}c", pal[rng.integers(0, k, (128, 128))]))
    # low-color but run-dominated: palette admissible, lz77 better
    lines = np.zeros((128, 128), dtype=np.int64)
    lines[::8, :] = 1
    out.append(("sparse_lines", np.array([[10, 200, 30], [240, 10, 90]], np.uint8)[lines]))
    fx = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures", "images.parquet")
    for r in pq.read_table(fx).to_pylist()[:8]:
        out.append((r["image_id"], imagecodec.synth_image(r["image_id"], r["w"], r["h"])))
    return out


def test_auto_profile_within_tolerance_of_best():
    """profile="auto" picks a stream within max(1.10x, best + 64 B) of
    the smallest explicit profile on every image of the sweep corpus
    (the 64 B floor covers degenerate images where every profile
    collapses to headers: flat is literal 30 B vs palette 38 B), and
    every auto stream roundtrips exactly."""
    for name, img in _profile_sweep_corpus():
        sizes = []
        for prof in ("literal", "palette", "lz77"):
            try:
                sizes.append(len(encode_webp(img, profile=prof)))
            except ValueError:
                assert prof == "palette"  # more than 256 colors
        best = min(sizes)
        data = encode_webp(img, profile="auto")
        assert len(data) <= max(best * 1.10, best + 64), (name, len(data), best)
        np.testing.assert_array_equal(decode_webp(data)[:, :, :3], img, err_msg=name)


def test_profile_param_rejects_flag_combos():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_webp(img, profile="auto", palette=True)
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_webp(img, profile="literal", lz77=True)
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_webp(img, profile="auto", subtract_green=True)
    with pytest.raises(ValueError, match="unknown profile"):
        encode_webp(img, profile="fast")
    # named profiles dispatch to the same bytes as the flags
    assert encode_webp(img, profile="palette") == encode_webp(img, palette=True)
