"""Unit tests for the pure-Python cores: HTML extraction (scrape.go
parity), robots matcher truth table, scope filter, config validation
split, image codecs, duration parsing."""

import base64
import hashlib

import numpy as np
import pytest

from crawlspark import htmlex, imagecodec, robots
from crawlspark.config import CrawlConfig, parse_duration
from crawlspark.scope import will_crawl

# ---------- htmlex (scrape/scrape.go + crawler/data/result.go) ----------

SIMPLE = """<!DOCTYPE html>
<html><head>
<title>First title</title>
<title>Second title</title>
<meta name="description" content="Desc here" />
<meta name="robots" content="noindex, nofollow" />
<link rel="canonical" href="/canon" />
<link rel="alternate" href="/alt" hreflang="en-us" />
<link rel="alternate" href="" hreflang="skipped" />
</head><body>
<h1>First h1</h1><h1>Second h1</h1>
<p>Match this.</p>
<a href="/x" rel="nofollow">anchor <b>bold</b> text</a>
<a>no href</a>
</body></html>"""


def test_scrape_query_api_parity():
    """The reference's general scrape API (Query/QueryAll/Text,
    scrape/scrape.go + scrape_test.go TestQuery): attribute-filtered
    first-match with subtree text."""
    root = htmlex.parse_tree(
        '<!doctype html><html><body>'
        '<h1 id="best-h1">Best title ever.</h1>'
        "<p>Don't match this!</p>"
        '<p name="best-paragraph">Match this.</p>'
        "<h1>A weaker title.</h1></body></html>"
    )
    n = htmlex.query("p", {"name": "best-paragraph"}, root)
    assert htmlex.text(n) == "Match this."
    assert htmlex.query("p", None, root) is not None
    assert len(htmlex.query_all("h1", None, root)) == 2
    assert htmlex.query("h1", {"id": "best-h1"}, root).attrs["id"] == "best-h1"
    assert htmlex.query("h2", None, root) is None


def test_scrape_helper_api_parity():
    """The rest of the reference scrape surface (VERDICT r02 missing
    #2): NodesByName (scrape.go:50-59), NodeByID (:61-71),
    NodesByClassName (:73-82), Attribute (:84-94), Classes (:96-98),
    NodesByTagName (:35-48) — pre-order, presence-sensitive attribute
    matching, Fields-split classes."""
    root = htmlex.parse_tree(
        '<!doctype html><html><body>'
        '<h1 id="top" class="hero  big">Big one.</h1>'
        '<p name="pick-me">First named.</p>'
        '<div class="big"><p name="pick-me" id="inner">Second named.</p></div>'
        '<span class="bigger">not a match</span>'
        '<input disabled>'
        "</body></html>"
    )
    named = htmlex.nodes_by_name("pick-me", root)
    assert [htmlex.text(n) for n in named] == ["First named.", "Second named."]
    assert htmlex.nodes_by_name("absent", root) == []

    assert htmlex.text(htmlex.node_by_id("inner", root)) == "Second named."
    assert htmlex.node_by_id("nope", root) is None

    # class list is whitespace-Fields split; "bigger" must not match "big"
    big = htmlex.nodes_by_class_name("big", root)
    assert [n.tag for n in big] == ["h1", "div"]
    assert htmlex.classes(big[0]) == ["hero", "big"]
    assert htmlex.classes(None) == []

    assert htmlex.attribute("id", big[0]) == "top"
    assert htmlex.attribute("missing", big[0]) == ""
    assert htmlex.attribute("id", None) == ""

    # value-less attribute: present, value "" (Go html Val == "")
    inp = htmlex.nodes_by_tag_name("input", root)[0]
    assert htmlex.attribute("disabled", inp) == ""
    assert htmlex.query("input", {"disabled": ""}, root) is inp
    # but an ABSENT attribute never matches, even against ""
    assert htmlex.query("span", {"disabled": ""}, root) is None

    assert [n.tag for n in htmlex.nodes_by_tag_name("p", root)] == ["p", "p"]


# HTML edge cases for the fast-extract differential: case folding,
# self-close, comments, cdata, repair, entities, and the constructs
# that must fall back to html.parser ('<' in attrs, PIs, marked
# sections)
_EDGE_CORPUS = [
    "",
    "plain text only",
    "a < b and c > d &amp; e &lt;f&gt;",
    "<p>x</p>",
    "<P CLASS='A'>x</P>",  # case folding
    '<a href="/x" rel=nofollow>y</a>',
    "<a href=/a/>slash-value</a>",  # unquoted value eats the slash
    "<br/><br /><input disabled><img src=x>",
    "<div/>not-pushed-after-xhtml-self-close",
    "<!doctype html><html><body><h1>t</h1></body></html>",
    "<!-- comment --><p>after</p>",
    "<!-- tolerant close --  ><p>a</p>",  # _markupbase closes on --\s*>
    "<script>if (a < b) { x = '&amp;'; }</script><p>t</p>",
    "<style>a > b { color: red }</style>ok",
    "<script type=module>let x=1;</script>",
    "<ul><li>a<li>b</ul>tail",  # unclosed li repair
    "<b><i>nest</b>cross</i>",
    "<p>trailing lt <",
    "<p>empty attr q=''<a href=''>e</a></p>",
    "<meta name=description content='Desc &quot;here&quot;'>",
    "<a href='#f&aring;'>ent in attr</a>",
    "text &notanentity; more",
    "<td nowrap>bare</td>",
    "<p><!-- unterminated comment",
    "<a href='<'>lt-in-attr</a>",  # fallback path
    "<?php echo 1 ?><p>pi</p>",
    "<![CDATA[raw]]><p>m</p>",  # marked section -> fallback
    "<foo:bar x:y='1'>ns-ish</foo:bar>",
    "<h1 id=a id=b>dup attr</h1>",
]


def _gen_corpus():
    """The HTML edge corpus plus extraction-shaped edges (first-match
    metas, nested anchors, implied body, link rel variants) and
    randomized structured docs."""
    import random

    corpus = _EDGE_CORPUS + [
        "<html><head><title>T</title><meta name=description content='D'>"
        "<meta name=description content='D2'><meta name=robots content='noindex'>"
        "<link rel=canonical href='/c'><link rel=canonical href='/c2'>"
        "<link rel=alternate href='/fr' hreflang=fr>"
        "<link rel=alternate href='' hreflang=de></head>"
        "<body><h1>H</h1><a href='/x' rel=nofollow>anchor <b>bold</b></a>"
        "<a>no href</a><a href='/y'/>selfclose</body></html>",
        "no body tags <title>t</title> just text",
        "<head><title>inhead</title></head>outside text",  # implied body
        "<a href='/o'>outer <a href='/i'>inner</a> tail</a>",  # nested a
        "<body>b1</body><body>b2</body>",  # first body wins
        "<title>t1</title><title>t2</title><h1>h1a</h1><h1>h1b</h1>",
        "<a href='/x'>pre <script>var a = 'txt';</script> post</a>",
        "<b><a href=/x>cross</b>closed-past</a>more",  # repair pops anchor
        "<meta name content='valueless-name'>",
        "<link rel href='/r'>",  # value-less rel
        "<a href='' rel='nofollow '>trailing-space-rel</a>",
        "<body>start<p>deep<a href=/d>in p</a></p>end</body>",
        "<head>ht</head><head>h2</head>text",  # first head; implied body
        "<a href='#f'>frag</a><a href='?q=1'>query</a>",
        "<A HREF='/UP' REL=NOFOLLOW>case</A>",
        "<body>x<br/>y<img src=/i>z</body>",
        "<a href='/amp&amp;'>ent &lt;anchor&gt;</a>",
    ]
    rng = random.Random(7)
    tags = ["div", "p", "a", "span", "body", "head", "title", "h1",
            "meta", "link", "script", "br"]
    texts = ["x", "a & b", "4 < 5", "&amp;", " ", "tail&gt;"]
    attrs = ["", " href=/r", " rel=nofollow", " rel=canonical",
             " rel=alternate hreflang=en", " name=description content='d'",
             " name=robots content=none", " id='i'", " disabled"]

    def gen(depth):
        if depth <= 0 or rng.random() < 0.3:
            return rng.choice(texts)
        t = rng.choice(tags)
        a = rng.choice(attrs)
        if t in ("meta", "link", "br"):
            return f"<{t}{a}>"
        inner = "".join(gen(depth - 1) for _ in range(rng.randint(0, 3)))
        if t == "script":
            inner = "var a = b < c && d;"
        close = "" if rng.random() < 0.1 else f"</{t}>"
        return f"<{t}{a}>{inner}{close}"

    corpus += ["".join(gen(4) for _ in range(rng.randint(1, 5))) for _ in range(300)]
    return corpus


def test_attr_grammars_are_structurally_identical():
    """_ATTR_GRAMMAR (the repetition closure shared by _TAG_START and
    the fused anchor patterns) and _TAG_ATTR (the per-attr capture
    pattern the extraction loops finditer with) must stay the SAME
    grammar: _ATTR_GRAMMAR == '(?:' + decapture(_TAG_ATTR) + ')*'.
    The meta/link path keeps a runtime tiling check, but pattern
    drift should fail CI structurally too (ADVICE r06). Compared as
    parsed regex trees (capture-group wrappers spliced out), so
    redundant (?:...) grouping can't cause a false mismatch."""
    import re._parser as sre

    def norm(sub):
        out = []
        for op, av in sub:
            op = str(op)
            if op == "SUBPATTERN":  # (num, add_flags, del_flags, p)
                out.extend(norm(av[3]))
            elif op in ("MAX_REPEAT", "MIN_REPEAT"):
                lo, hi, inner = av
                out.append((op, (lo, str(hi), tuple(norm(inner)))))
            elif op == "BRANCH":
                out.append((op, tuple(tuple(norm(b)) for b in av[1])))
            elif op == "IN":
                out.append((op, tuple(
                    (str(o), tuple(v) if isinstance(v, tuple) else v)
                    for o, v in av)))
            else:
                out.append((op, av))
        return out

    grammar = norm(sre.parse(htmlex._ATTR_GRAMMAR))
    # the grammar is exactly one Kleene closure of the per-attr unit
    assert len(grammar) == 1 and grammar[0][0] == "MAX_REPEAT"
    lo, hi, unit = grammar[0][1]
    assert (lo, hi) == (0, "MAXREPEAT")
    assert unit == tuple(norm(sre.parse(htmlex._TAG_ATTR.pattern)))


def test_meta_link_attr_tiling_falls_back_loudly():
    """If _TAG_ATTR leaves a gap or tail in a meta/link attr string,
    the fused path must raise _Fallback, not silently drop attrs."""
    doc = ('<html><head><meta name="robots" content="noindex">'
           "</head><body></body></html>")
    tree = htmlex._extract_from_tree(htmlex.parse_tree(doc))
    assert htmlex._fast_extract(doc) == tree
    # r10: the dominant double-quoted name/content shape is handled by
    # the fused _META_FAST match without the walk — the guard lives on
    # the walk path, so drift detection is exercised with an attr
    # string OUTSIDE the fused shape (reversed order, single quotes)
    walk_doc = ("<html><head><meta content='noindex' name='robots'>"
                "</head><body></body></html>")
    assert htmlex._fast_extract(walk_doc) == htmlex._extract_from_tree(
        htmlex.parse_tree(walk_doc))
    orig = htmlex._TAG_ATTR
    try:
        # a deliberately-drifted per-attr pattern that skips name=
        # pairs entirely: every attr string becomes a gap
        import re

        htmlex._TAG_ATTR = re.compile(r"\s+(xyzzy)()()()()")
        with pytest.raises(htmlex._Fallback):
            htmlex._fast_extract(walk_doc)
    finally:
        htmlex._TAG_ATTR = orig


def test_fast_extract_differential():
    """The fused single-pass extractor must produce the IDENTICAL
    extraction dict the tree path produces, or fall back — never
    silently diverge (r05). The tree path itself is the
    reference-semantics oracle."""
    corpus = _gen_corpus()
    n_fast = 0
    for doc in corpus:
        tree = htmlex._extract_from_tree(htmlex.parse_tree(doc))
        try:
            fast = htmlex._fast_extract(doc)
        except htmlex._Fallback:
            continue  # public extract_html falls back to the tree path
        n_fast += 1
        assert fast == tree, doc
        assert htmlex.extract_html(doc) == tree, doc
    assert n_fast >= len(corpus) * 0.8, n_fast


def test_fast_extract_differential_anchor_runs():
    """r06 whole-anchor fusion (_A_FULL / _A_RUN / _A_HREF_REL):
    link-list-shaped docs — sibling anchor runs with every attr shape
    (dup href, reversed order, uppercase, entities, value-less),
    self-closed anchors, stray close tags, nesting — must extract
    identically to the tree path or fall back."""
    import random

    rng = random.Random(31337)
    attrs = ["", " href=/r", " rel=nofollow", " href='/a&amp;b' rel=x",
             " rel=x href=/y", " href=/1 href=/2", " HREF=/UP REL=NOFOLLOW",
             " href", " rel", " id=3 href=/z", " href=/z id=3",
             " rel='nofollow '", " href='' rel=''"]
    bodies = ["t", "", "x & y", "<i>n</i>", "Child 3", "4 < 5"]
    closes = ["</a>", "</A >", "", "</b>"]

    def run(n):
        segs = []
        for _ in range(n):
            segs.append(rng.choice([" ", "", "txt ", "a&b ", "<b>x</b>"]))
            if rng.random() < 0.06:
                segs.append(f"<a{rng.choice(attrs)}/>")
            segs.append(
                f"<a{rng.choice(attrs)}>{rng.choice(bodies)}{rng.choice(closes)}"
            )
        return "".join(segs)

    n_fast = 0
    for _ in range(2500):
        doc = "<body>" + run(rng.randint(1, 8)) + rng.choice(["</body>", ""])
        tree = htmlex._extract_from_tree(htmlex.parse_tree(doc))
        try:
            fast = htmlex._fast_extract(doc)
        except htmlex._Fallback:
            continue
        n_fast += 1
        assert fast == tree, repr(doc)
    assert n_fast >= 2000, n_fast


def test_fast_extract_differential_hypothesis():
    """Property: for ANY string, the fused extractor either falls
    back or equals the tree extraction exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    soup = st.text(
        alphabet=st.sampled_from(
            list("<>&\"'=/ abc!-;#?xA1\n\ttitle head body meta link rel=nofw")
        ),
        max_size=80,
    )

    @settings(max_examples=400, deadline=None)
    @given(soup)
    def prop(doc):
        try:
            fast = htmlex._fast_extract(doc)
        except htmlex._Fallback:
            return
        assert fast == htmlex._extract_from_tree(htmlex.parse_tree(doc)), repr(doc)

    prop()


def test_extract_first_match_semantics():
    ex = htmlex.extract_html(SIMPLE)
    # Query = QueryAll[0] (scrape.go:26-33)
    assert ex["Title"] == "First title"
    assert ex["H1"] == "First h1"
    assert ex["Description"] == "Desc here"
    assert ex["Robots"] == "noindex, nofollow"
    assert ex["CanonicalHref"] == "/canon"


def test_extract_hreflang_skips_empty_href():
    ex = htmlex.extract_html(SIMPLE)
    assert ex["Hreflang"] == [("/alt", "en-us")]


def test_extract_links_all_anchors_docorder():
    ex = htmlex.extract_html(SIMPLE)
    assert ex["Links"] == [
        ("/x", "anchor bold text", True),
        ("", "no href", False),
    ]


def test_body_text_hash():
    ex = htmlex.extract_html(SIMPLE)
    body_text = "\nFirst h1Second h1\nMatch this.\nanchor bold text\nno href\n"
    expect = base64.standard_b64encode(hashlib.sha512(body_text.encode()).digest()).decode()
    assert ex["BodyTextHash"] == expect


def test_scrape_query_golden():
    # scrape_test.go:10-28 analog: body text is exactly the paragraph
    ex = htmlex.extract_html("<html><body><p name='x'>Match this.</p></body></html>")
    assert ex["BodyTextHash"] == htmlex.sha512_b64("Match this.")
    assert ex["Title"] == ""


def test_nofollow_is_exact_rel_equality():
    # result.go:149: rel == "nofollow" exact string equality
    ex = htmlex.extract_html('<body><a href="/a" rel="nofollow external">x</a></body>')
    assert ex["Links"][0][2] is False


# ---------- robots (REP truth table, crawler.go:278-295) ----------


def test_robots_locate():
    assert robots.locate("http://h.test:8080/a/b?q") == "http://h.test:8080/robots.txt"
    assert robots.locate("nonsense") is None


def _matcher(body, ua="Crawler"):
    return robots.Matcher(robots.parse_rules(body), ua)


def test_robots_disallow_all():
    m = _matcher("User-agent: *\nDisallow: /\n")
    assert not m.allowed("http://h.test/")
    assert not m.allowed("http://h.test/x")


def test_robots_allow_all_variants():
    assert _matcher("User-agent: *\nDisallow:\n").allowed("http://h.test/x")
    assert robots.Matcher(robots.ALLOW_ALL, "Crawler").allowed("http://h.test/x")


def test_robots_path_prefix_and_longest_match():
    body = "User-agent: *\nDisallow: /secret\nAllow: /secret/allowed$\n"
    m = _matcher(body)
    assert m.allowed("http://h.test/open")
    assert not m.allowed("http://h.test/secret")
    assert not m.allowed("http://h.test/secret/x")
    assert m.allowed("http://h.test/secret/allowed")
    assert not m.allowed("http://h.test/secret/allowed/deeper")


def test_robots_wildcard():
    m = _matcher("User-agent: *\nDisallow: /*.pdf$\n")
    assert not m.allowed("http://h.test/a/doc.pdf")
    assert m.allowed("http://h.test/a/doc.pdfx")


def test_robots_agent_groups():
    body = "User-agent: Crawler\nDisallow: /only-crawler\n\nUser-agent: *\nDisallow: /everyone\n"
    m_c = _matcher(body, "Crawler")
    m_o = _matcher(body, "Other")
    assert not m_c.allowed("http://h.test/only-crawler")
    assert m_c.allowed("http://h.test/everyone")  # specific group wins, * ignored
    assert m_o.allowed("http://h.test/only-crawler")
    assert not m_o.allowed("http://h.test/everyone")


def test_robots_status_mapping():
    assert robots.from_status(404, None) == robots.ALLOW_ALL
    assert robots.from_status(503, None) == robots.DISALLOW_ALL
    assert robots.from_status(None, None) == robots.DISALLOW_ALL
    assert robots.from_status(200, "User-agent: *\nDisallow: /x\n") != robots.ALLOW_ALL


def test_robots_tie_allow_wins():
    m = _matcher("User-agent: *\nDisallow: /dir\nAllow: /dir\n")
    assert m.allowed("http://h.test/dir/a")


# ---------- scope (crawler.go:171-195 truth table) ----------


def test_scope_truth_table():
    inc = [r"^https?://www\.example\.com/.*"]
    exc = [r"\.pdf$"]
    assert will_crawl("http://www.example.com/a", inc, exc)
    assert not will_crawl("http://www.example.com/a.pdf", inc, exc)  # exclude beats include
    assert not will_crawl("http://other.com/a", inc, exc)  # include list nonempty, no match
    assert will_crawl("http://other.com/a", [], exc)  # empty include -> keep
    assert not will_crawl("http://other.com/a.pdf", [], exc)


# ---------- config (config_test.go:8-37 split) ----------


def test_config_ill_formed_json_fails_at_load():
    with pytest.raises(Exception):
        CrawlConfig.from_json("{not json")


def test_config_bad_wait_fails_at_validate_not_load():
    cfg = CrawlConfig.from_json('{"WaitTime": "totally-not-a-duration"}')
    with pytest.raises(ValueError):
        cfg.validate()


def test_config_defaults():
    cfg = CrawlConfig.from_json("{}")
    assert cfg.Connections == 1 and cfg.MaxDepth == 0
    assert cfg.WaitTime == "100ms" and cfg.Timeout == "30s"
    assert cfg.RobotsUserAgent == "Crawler"
    # a removed knob in an old config file is ignored, not an error
    assert not hasattr(CrawlConfig.from_json('{"seen_layout": "bucketed"}'), "seen_layout")


def test_engine_knobs_are_all_read():
    """Every CrawlConfig field under '# --- Spark-engine knobs' is read
    as `.<name>` somewhere in crawlspark/ outside config.py, so a knob
    whose only branch is deleted cannot linger. The reference-parity
    fields above the marker are parsed for config compatibility and
    are exempt."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(htmlex.__file__).parent
    src = (pkg / "config.py").read_text()
    marker = next(
        i + 1 for i, line in enumerate(src.splitlines())
        if line.strip().startswith("# --- Spark-engine knobs")
    )
    cls = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig"
    )
    knobs = [
        n.target.id for n in cls.body
        if isinstance(n, ast.AnnAssign) and n.lineno > marker
    ]
    assert knobs, "marker comment or knob fields not found"
    code = "\n".join(p.read_text() for p in pkg.glob("*.py") if p.name != "config.py")
    unread = [k for k in knobs if not re.search(r"\." + k + r"\b", code)]
    assert not unread, f"CrawlConfig knobs nothing reads: {unread}"


def test_parse_duration():
    assert parse_duration("100ms") == pytest.approx(0.1)
    assert parse_duration("1.5s") == pytest.approx(1.5)
    assert parse_duration("2m30s") == pytest.approx(150)
    with pytest.raises(ValueError):
        parse_duration("abc")


# ---------- image codecs (input_hint invariant machinery) ----------


def test_png_roundtrip_exact():
    arr = imagecodec.synth_image("img-0001", 24, 16)
    out = imagecodec.decode_png(imagecodec.encode_png(arr))
    assert np.array_equal(arr, out)


def test_qjpg_lossy_psnr_above_40():
    arr = imagecodec.synth_image("img-0002", 32, 32)
    out = imagecodec.decode_qjpg(imagecodec.encode_qjpg(arr))
    p = imagecodec.psnr(arr, out)
    assert p >= 40.0, p
    assert not np.array_equal(arr, out)  # genuinely lossy


def test_phash_deterministic_and_discriminative():
    a = imagecodec.phash64(imagecodec.synth_image("img-0001", 32, 32))
    b = imagecodec.phash64(imagecodec.synth_image("img-0001", 32, 32))
    # img-0002 is in a different synth pattern class (checker vs
    # radial) — cross-pattern images must hash far apart; same-pattern
    # ids may legitimately collide (noise rarely flips block means)
    c = imagecodec.phash64(imagecodec.synth_image("img-0002", 32, 32))
    assert a == b
    assert isinstance(a, int) and -(2**63) <= a < 2**63
    assert bin((a ^ c) & ((1 << 64) - 1)).count("1") > 7


def test_out_of_subset_payloads_fail_loudly():
    # jpeg is REAL since r05, webp (lossless VP8L) since r06 — the
    # remaining out-of-subset shapes fail loudly: truncated bytes as
    # ValueError, lossy VP8 webp as NotImplementedError (no PIL here)
    with pytest.raises(ValueError):
        imagecodec.decode(b"RIFF....WEBP", "webp")
    with pytest.raises(Exception) as ei:
        imagecodec.decode(
            b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00", "webp"
        )
    assert isinstance(ei.value, NotImplementedError)
    with pytest.raises(ValueError):
        imagecodec.decode(b"\xff\xd8\xff", "jpeg")


def test_jpeg_roundtrip_fidelity_and_structure():
    """Real baseline JFIF codec (crawlspark/jpegcodec.py, r05):
    marker structure, deterministic bytes, round-trip fidelity on the
    synth corpus (q98 clears the PSNR>=40 payload invariant), exact
    DC-only round trip on flat images, non-multiple-of-8 dims."""
    import numpy as np

    from crawlspark import imagecodec
    from crawlspark.jpegcodec import decode_jpeg, encode_jpeg

    for i in (1, 5, 9, 13):
        arr = imagecodec.synth_image(f"img-{i:04d}", 24, 16)
        b = imagecodec.encode(arr, "jpeg")
        # structural: SOI ... EOI, JFIF APP0, SOF0 baseline, 4 DHTs
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        assert b[2:4] == b"\xff\xe0" and b[6:11] == b"JFIF\x00"
        assert b"\xff\xc0" in b and b.count(b"\xff\xc4") >= 4
        assert imagecodec.encode(arr, "jpeg") == b  # deterministic
        dec = imagecodec.decode(b, "jpeg")
        assert dec.shape == arr.shape
        assert imagecodec.psnr(arr, dec) >= 40.0  # payload invariant
    # flat image: single DC coefficient path, exact
    flat = np.full((16, 16, 3), 127, np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, 90)) == flat).all()
    # odd dims: pad + crop
    odd = imagecodec.synth_image("odd", 17, 9)
    assert decode_jpeg(encode_jpeg(odd, 98)).shape == odd.shape
    # corrupt input fails loudly
    import pytest

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")
    # optional 0xFF fill bytes before a marker are legal (T.81
    # B.1.1.2) — inject one before SOF0 (code-review r05)
    arr = imagecodec.synth_image("fill", 16, 16)
    b = encode_jpeg(arr, 98)
    i = b.find(b"\xff\xc0")
    filled = b[:i] + b"\xff" + b[i:]
    assert (decode_jpeg(filled) == decode_jpeg(b)).all()


def test_jpeg_roundtrip_hypothesis():
    """Property: any random RGB image round-trips through the real
    JPEG codec with the right shape and bounded error (q98 worst-case
    well above 30 dB even on pure noise, the hardest input)."""
    import hypothesis.strategies as st
    import numpy as np
    from hypothesis import given, settings

    from crawlspark import imagecodec
    from crawlspark.jpegcodec import decode_jpeg, encode_jpeg

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def check(w, h, seed):
        rng = np.random.RandomState(seed)
        arr = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(arr, 98))
        assert dec.shape == arr.shape
        assert imagecodec.psnr(arr, dec) >= 30.0

    check()


def test_qvid_property_roundtrip():
    """Property (hypothesis): any list of uniform random RGB frames
    survives the QVID container with per-frame PSNR>=40 (the qjpg
    quantizer's fidelity bound) and exact frame count/order; sampled
    iteration equals the full decode at the sampled indices."""
    import hypothesis.strategies as st
    import numpy as np
    from hypothesis import given, settings

    from crawlspark import imagecodec, videocodec

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=4, max_value=12),
        st.integers(min_value=4, max_value=12),
        st.integers(min_value=0, max_value=2**32 - 1),
        st.integers(min_value=1, max_value=4),
    )
    def check(n_frames, w, h, seed, every_n):
        rng = np.random.RandomState(seed)
        frames = [
            rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            for _ in range(n_frames)
        ]
        blob = videocodec.encode_qvid(frames)
        assert videocodec.video_meta(blob) == (n_frames, w, h)
        dec = videocodec.decode_qvid(blob)
        assert len(dec) == n_frames
        for orig, got in zip(frames, dec):
            assert imagecodec.psnr(orig, got) >= 40.0
        sampled = dict(videocodec.iter_frames(blob, every_n))
        assert sorted(sampled) == list(range(0, n_frames, every_n))
        for i, arr in sampled.items():
            assert np.array_equal(arr, dec[i])

    check()


def test_anchor_attrs_walk_tiling_falls_back_loudly():
    """The general anchor attr walk (_anchor_attrs_walk — the slow
    shape behind _A_FULL) carries the same gapless-tiling guard as the
    tree and meta/link walks: if _TAG_ATTR drifts from _ATTR_GRAMMAR
    it must raise _Fallback, never silently feed a wrong/missing href
    into the frontier (ADVICE r06, completed r7)."""
    # valid shapes still walk (incl. dup-attr last-wins)
    assert htmlex._anchor_attrs_walk(' rel="nofollow" href="/a"') == ("/a", "nofollow")
    assert htmlex._anchor_attrs_walk(' href="/a" href="/b"') == ("/b", None)
    orig = htmlex._TAG_ATTR
    try:
        import re

        htmlex._TAG_ATTR = re.compile(r"\s+(xyzzy)()()()()")
        with pytest.raises(htmlex._Fallback):
            htmlex._anchor_attrs_walk(' href="/a"')
    finally:
        htmlex._TAG_ATTR = orig


def test_synth_image_cached_base_and_reseed_bit_identical():
    """r10: synth_image caches the (pat, w, h) base and re-seeds one
    shared RandomState; both must be bit-identical to the original
    per-call construction — RandomState(n) and rs.seed(n) are the
    same documented legacy seeding, asserted here directly, and the
    full image is compared against a fresh-constructed recompute."""
    import numpy as np

    from crawlspark import imagecodec as ic

    for seed in (0, 1, 42, 0xFFFFFFFF, 123456789):
        a = np.random.RandomState(seed).randint(-16, 17, size=(16, 16, 3))
        rng = ic._synth_rng()
        rng.seed(seed)
        b = rng.randint(-16, 17, size=(16, 16, 3))
        assert (a == b).all()

    for image_id in ("h/x", "bench-0001.test/7.42", "weird id", "a/0"):
        for (w, h) in ((16, 16), (8, 6), (32, 32), (5, 3)):
            got = ic.synth_image(image_id, w, h)
            seed = ic._seed_for(image_id)
            base = ic._synth_base((seed >> 8) % 4, w, h)
            noise = np.random.RandomState(seed).randint(-16, 17, size=(h, w, 3))
            want = (base + noise).clip(0, 255).astype(np.uint8)
            assert got.dtype == want.dtype and (got == want).all(), (image_id, w, h)


def test_synth_base_cache_bounded():
    """The (pat, w, h) base cache stays within its cap across many
    distinct sizes, and every image equals one built from an uncached
    base."""
    import numpy as np

    from crawlspark import imagecodec as ic

    sizes = [(w, h) for w in range(3, 15) for h in range(3, 15)]  # 144 pairs
    assert len(sizes) > 2 * ic._BASE_CACHE_MAX
    for w, h in sizes:
        image_id = f"img-{w}x{h}"
        got = ic.synth_image(image_id, w, h)
        seed = ic._seed_for(image_id)
        base = ic._synth_base((seed >> 8) % 4, w, h)
        noise = np.random.RandomState(seed).randint(-16, 17, size=(h, w, 3))
        assert (got == (base + noise).clip(0, 255).astype(np.uint8)).all(), (w, h)
        assert len(ic._BASE_CACHE) <= ic._BASE_CACHE_MAX


def test_fused_shapes_compose_from_shared_value_classes():
    """r10: the fused fast shapes must be COMPOSED from the shared
    value-class fragments (not inline copies that could drift from
    the walk grammar — the r6 shared-grammar rule)."""
    assert htmlex._V_DQ in htmlex._META_FAST.pattern
    assert htmlex._META_FAST.pattern.count(htmlex._V_DQ) == 2
    assert htmlex._LINK_FAST.pattern.count(htmlex._V_DQ) == 3
    for pat in (htmlex._A_FAST, htmlex._A_HREF_REL):
        assert pat.pattern.count(htmlex._VAL_CAP) == 2
    assert htmlex._VAL_CAP in htmlex._TAG_ATTR.pattern
    assert htmlex._VAL in htmlex._ATTR_GRAMMAR
