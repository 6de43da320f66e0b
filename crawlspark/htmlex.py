"""HTML extraction with the reference's scrape semantics.

Pure-Python core used by both the Spark parse stage (inside
``mapInArrow`` — Arrow-batched, never row-at-a-time UDFs) and the
sequential oracle. ``extract_html`` runs one fused regex tokenizer
(``_fast_extract``) and falls back to the stdlib ``html.parser`` tree
(``parse_tree``) on anything outside its strict grammar; the scrape
query API works on that same tree. (A second regex tokenizer that
built the tree was removed: only tests built trees.)

Parity targets (all file:line into /root/reference):
- first-match queries: Title/H1 = text of the FIRST matching element
  in document order (scrape/scrape.go:26-33 Query = QueryAll[0];
  pre-order DFS per NodesByTagName scrape.go:35-48).
- Text() concatenates every text node in the subtree with no
  separators or trimming (scrape.go:100-117).
- meta description/robots = ``content`` attr of the first
  <meta name=...> (crawler/data/result.go:92-108); "" when absent.
- canonical: first <link rel="canonical">; ALWAYS constructed, even
  with empty href — empty href resolves to the base URL itself
  (result.go:117-122, MakeCanonical unconditional).
- hreflang: all <link rel="alternate"> with non-empty href
  (result.go:125-139).
- links: ALL <a> elements in document order, href defaulting to ""
  (resolves to base); Anchor = subtree text; Nofollow = rel attr
  string-equals "nofollow" (result.go:141-154).
- body text hash: SHA-512 of the first <body> subtree's text,
  base64 std encoding (result.go:113-114).

The golang.org/x/net/html parser performs full HTML5 tree repair
(implied <html>/<head>/<body>); this extractor implements the subset
needed for crawl-shaped documents: explicit or implied body (text
outside <head> belongs to body), void elements, entity decoding.
"""

from __future__ import annotations

import base64
import hashlib
from html.parser import HTMLParser

__all__ = [
    "extract_html", "sha512_b64", "parse_tree", "query", "query_all",
    "text", "nodes_by_tag_name", "nodes_by_name", "node_by_id",
    "nodes_by_class_name", "attribute", "classes",
]

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}


def sha512_b64(text: str) -> str:
    return base64.standard_b64encode(hashlib.sha512(text.encode("utf-8")).digest()).decode("ascii")


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag, attrs=()):
        self.tag = tag
        self.attrs = dict(attrs)
        self.children = []


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_Node(tag, attrs))

    def handle_endtag(self, tag):
        # close the nearest matching open tag (tolerant repair)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        self.stack[-1].children.append(data)


def parse_tree(html_str: str) -> _Node:
    """Parse HTML to the internal element tree (root node) with
    html.parser — the reference semantics path behind the scrape
    query API and the differential-test oracle for `_fast_extract`."""
    tb = _TreeBuilder()
    tb.feed(html_str)
    tb.close()
    return tb.root


def _walk(node):
    """Pre-order DFS over element nodes (matches NodesByTagName order)."""
    out = [node]
    for c in node.children:
        if isinstance(c, _Node):
            out.extend(_walk(c))
    return out


def _text(node) -> str:
    parts = []

    def rec(n):
        for c in n.children:
            if isinstance(c, _Node):
                rec(c)
            else:
                parts.append(c)

    if node is not None:
        rec(node)
    return "".join(parts)


def _first(nodes, tag, attrs=None):
    # same presence-sensitive matcher as the public Query API
    # (_match_attribute) so the two can't diverge on value-less attrs
    for n in nodes:
        if n.tag != tag:
            continue
        if attrs and not all(_match_attribute(k, v, n) for k, v in attrs.items()):
            continue
        return n
    return None


class _Fallback(Exception):
    """Raised by the fast tokenizer on any construct outside its
    strict subset — the caller re-parses with html.parser."""


# Strict-subset token grammar. ANYTHING not matching falls back to
# html.parser for the whole document, so the fast path can never
# silently diverge on inputs it wasn't sure about. Attr values
# exclude '<' (html.parser accepts it inside quotes; rare -> fallback).
import re as _re
from html import unescape as _unescape

# Shared attr-VALUE character classes (r10): every grammar below —
# _ATTR_GRAMMAR, _TAG_ATTR, the fused anchor shapes, _META_FAST and
# _LINK_FAST — is COMPOSED from these fragments, so the fast shapes
# cannot drift from the walk grammar (the r6 shared-grammar rule,
# extended to the r10 additions).
_V_DQ = r"[^\"<]*"          # double-quoted value body
_V_SQ = r"[^'<]*"           # single-quoted value body
_V_UNQ = r"[^\s>'\"<`=]+"   # unquoted value
_VAL = r"\"" + _V_DQ + r"\"|'" + _V_SQ + r"'|" + _V_UNQ
_VAL_CAP = r"\"(" + _V_DQ + r")\"|'(" + _V_SQ + r")'|(" + _V_UNQ + r")"

# one attr per repetition — shared between _TAG_START and the fused
# anchor pattern below so the two grammars cannot diverge
_ATTR_GRAMMAR = (
    r"(?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:" + _VAL + r"))?)*"
)
_TAG_START = _re.compile(
    r"<([a-zA-Z][a-zA-Z0-9:._-]*)"
    r"(" + _ATTR_GRAMMAR + r")"
    r"\s*(/?)>"
)
_TAG_ATTR = _re.compile(
    r"\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(" + _VAL_CAP + r"))?"
)
_TAG_END = _re.compile(r"</([a-zA-Z][a-zA-Z0-9:._-]*)\s*>")
# _markupbase.parse_comment closes on r'--\s*>' — mirror exactly
_COMMENT_CLOSE = _re.compile(r"--\s*>")
_SIMPLE_DECL = _re.compile(r"<![a-zA-Z][^>\"'\[]*>")
_PI_CLOSE = ">"
_CDATA_CLOSE = {
    t: _re.compile(r"</\s*%s\s*>" % t, _re.I) for t in ("script", "style")
}


def _match_attribute(k: str, v: str, n: _Node) -> bool:
    """scrape.matchAttribute (scrape/scrape.go:122-132): an attribute
    must be PRESENT and value-equal; a value-less attribute (Go html
    gives Val "", html.parser gives None) matches v == ""."""
    return k in n.attrs and (n.attrs[k] or "") == v


def query_all(tag: str, attrs: dict | None, root: _Node) -> list[_Node]:
    """All elements named ``tag`` whose attributes contain every
    (k, v) in ``attrs``, in pre-order document order — the reference's
    scrape.QueryAll (scrape/scrape.go:14-21)."""
    out = []
    for n in _walk(root):
        if n.tag != tag:
            continue
        if attrs and not all(_match_attribute(k, v, n) for k, v in attrs.items()):
            continue
        out.append(n)
    return out


def query(tag: str, attrs: dict | None, root: _Node) -> _Node | None:
    """First match of query_all, or None — scrape.Query
    (scrape/scrape.go:23-33)."""
    found = query_all(tag, attrs, root)
    return found[0] if found else None


def text(node: _Node | None) -> str:
    """Concatenated subtree text, no separators or trimming —
    scrape.Text (scrape/scrape.go:100-117)."""
    return _text(node)


def nodes_by_tag_name(tag: str, root: _Node) -> list[_Node]:
    """All elements named ``tag`` in pre-order document order —
    scrape.NodesByTagName (scrape/scrape.go:35-48)."""
    return [n for n in _walk(root) if n.tag == tag]


def nodes_by_name(name: str, root: _Node) -> list[_Node]:
    """All elements whose ``name`` attribute equals ``name`` —
    scrape.NodesByName (scrape/scrape.go:50-59), pre-order."""
    return [n for n in _walk(root) if _match_attribute("name", name, n)]


def node_by_id(id_: str, root: _Node) -> _Node | None:
    """First element (pre-order) whose ``id`` attribute equals
    ``id_``, or None — scrape.NodeByID (scrape/scrape.go:61-71)."""
    for n in _walk(root):
        if _match_attribute("id", id_, n):
            return n
    return None


def nodes_by_class_name(class_: str, root: _Node) -> list[_Node]:
    """All elements whose whitespace-split ``class`` attribute
    contains ``class_`` — scrape.NodesByClassName
    (scrape/scrape.go:73-82), pre-order."""
    return [n for n in _walk(root) if class_ in classes(n)]


def attribute(key: str, n: _Node | None) -> str:
    """Value of attribute ``key``, or "" when the node is None or the
    attribute absent/value-less — scrape.Attribute
    (scrape/scrape.go:84-94)."""
    if n is None:
        return ""
    return n.attrs.get(key) or ""


def classes(n: _Node | None) -> list[str]:
    """Whitespace-split class list (str.split() == strings.Fields) —
    scrape.Classes (scrape/scrape.go:96-98)."""
    return attribute("class", n).split()


def extract_html(html_str: str) -> dict:
    """Extract the reference's per-page fields from raw HTML.

    Returns href strings and document-order link tuples; URL
    resolution against the base address happens in the caller (it
    needs canon.resolve_address).

    Hot path (r05, VERDICT r04 #3): a FUSED single tokenizer pass
    (`_fast_extract`) that never materializes the element tree — the
    tree build + subtree walks were ~half of the wide drain's parse
    core-seconds, and extraction only ever consumes first-match
    elements, anchors and three text subtrees. Falls back to the
    html.parser tree path (`parse_tree`) on any construct outside its
    strict token grammar (raising `_Fallback`), and is differentially
    fuzz-tested against the tree extraction in
    tests/test_purecore.py."""
    try:
        return _fast_extract(html_str)
    except _Fallback:
        return _extract_from_tree(parse_tree(html_str))


def _extract_from_tree(root: _Node) -> dict:
    """Tree-based extraction — the reference semantics path (also the
    differential-test oracle for `_fast_extract`)."""
    nodes = _walk(root)[1:]  # skip #root

    title_n = _first(nodes, "title")
    h1_n = _first(nodes, "h1")
    desc_n = _first(nodes, "meta", {"name": "description"})
    robots_n = _first(nodes, "meta", {"name": "robots"})
    canon_n = _first(nodes, "link", {"rel": "canonical"})

    hreflang = []
    for n in nodes:
        if n.tag == "link" and n.attrs.get("rel") == "alternate":
            href = n.attrs.get("href") or ""
            if href != "":
                hreflang.append((href, n.attrs.get("hreflang") or ""))

    links = []
    for n in nodes:
        if n.tag == "a":
            links.append(
                (
                    n.attrs.get("href") or "",
                    _text(n),
                    (n.attrs.get("rel") or "") == "nofollow",
                )
            )

    body_n = _first(nodes, "body")
    if body_n is not None:
        body_text = _text(body_n)
    else:
        # implied body: all text outside <head>
        head = _first(nodes, "head")
        head_text = _text(head) if head is not None else ""
        all_text = _text(root)
        body_text = all_text.replace(head_text, "", 1) if head_text else all_text

    return {
        "Title": _text(title_n),
        "H1": _text(h1_n),
        "Description": (desc_n.attrs.get("content") or "") if desc_n is not None else "",
        "Robots": (robots_n.attrs.get("content") or "") if robots_n is not None else "",
        # reference builds Canonical for EVERY html page, tag or not
        # (result.go:117-122) — empty href resolves to the base URL.
        "CanonicalHref": (canon_n.attrs.get("href") or "") if canon_n is not None else "",
        "Hreflang": hreflang,
        "Links": links,
        "BodyTextHash": sha512_b64(body_text),
    }


# tags whose attributes extraction actually consumes — every other
# start tag's attr string is VALIDATED (same grammar, same fallback
# points) but no attr dict is built
_EXTRACT_SET = frozenset(("title", "h1", "meta", "link", "a", "body", "head"))

# Fused simple-element tails (r06 parse second pass): when a
# title/h1 element's content is plain text (no '<' before the
# matching close tag), the whole `text</tag>` tail is consumed as ONE
# token — no end-tag regex, no stack push/pop, no sink-stack
# truncation. `[^<]*` guarantees the first '<' after the start tag is
# the close tag itself, so any nested markup/comment/truncation falls
# through to the generic path (never a semantic shortcut). Close-tag
# shape mirrors _TAG_END (case-insensitive name, optional trailing
# whitespace). Anchors get the same fusion via _A_FULL below.
_SIMPLE_TAIL = {
    t: _re.compile(r"([^<]*)</%s\s*>" % t, _re.I) for t in ("title", "h1")
}

# Whole-anchor fusion (r06): `<a attrs>plain text</a>` as ONE regex
# match — tag name exactly a/A (lookahead excludes <abbr>/<a:x>), the
# IDENTICAL attr grammar as _TAG_START (shared _ATTR_GRAMMAR), then an
# OPTIONAL plain-text tail + close tag. Tail group None (anchor has
# nested markup / is truncated) falls through to the generic
# stack-push path with the start tag already consumed — exactly what
# _TAG_START would have produced for the same prefix.
_A_FULL = _re.compile(
    r"<[aA](?=[\s/>])(" + _ATTR_GRAMMAR + r")\s*(/?)>(?:([^<]*)</[aA]\s*>)?"
)
# The dominant attr shape in link corpora: href [rel], nothing else —
# one anchored match instead of a finditer loop. Any other
# shape/order/casing (incl. dup attrs, where last-wins matters) falls
# back to the general finditer walk.
_A_HREF_REL = _re.compile(
    r"\s+href\s*=\s*(?:" + _VAL_CAP + r")"
    r"(?:\s+rel\s*=\s*(?:" + _VAL_CAP + r"))?$"
)
# Sibling-anchor run: plain text (no '<' or '&', so no unescape and
# no dispatch needed) followed by another whole anchor — link lists
# chase this with one C-level match per anchor instead of re-entering
# the outer tokenizer dispatch. Any non-matching content (entities in
# the gap, a different tag, a close tag) breaks the run unconsumed.
_A_RUN = _re.compile(r"([^<&]*)" + _A_FULL.pattern)

# r10: the dominant whole-anchor shape fused into ONE pattern — the
# href [rel] attr pair (value classes IDENTICAL to _ATTR_GRAMMAR /
# _A_HREF_REL, so matching here is a strict subset of _A_FULL
# followed by a successful _A_HREF_REL on the same araw span), plus
# the optional plain-text tail + close tag. One C-level match per
# dominant anchor instead of two. Self-closing or tail-less matches
# are NOT handled here — the caller falls through to the general
# _A_FULL path for those (rewind semantics live in one place).
# Groups: 1-3 href alts, 4-6 rel alts, 7 selfclose, 8 tail.
_A_FAST = _re.compile(
    r"<[aA]\s+href\s*=\s*(?:" + _VAL_CAP + r")"
    r"(?:\s+rel\s*=\s*(?:" + _VAL_CAP + r"))?"
    r"\s*(/?)>(?:([^<]*)</[aA]\s*>)?"
)
# Sibling-run variant: plain gap text (no '<'/'&') + the fused shape.
# Groups shift by one (1 = lead text).
_A_RUN_FAST = _re.compile(r"([^<&]*)" + _A_FAST.pattern)

# r10: dominant meta/link attr shapes matched in ONE anchored regex
# against the _TAG_START-validated araw span (value class identical
# to _ATTR_GRAMMAR's double-quoted alternative). Any other
# shape/order/quoting falls back to the general _TAG_ATTR walk, so
# these are pure shortcuts; equivalence rides the same differential
# fuzz as the tree path.
_META_FAST = _re.compile(
    r'\s+name\s*=\s*"(' + _V_DQ + r')"\s+content\s*=\s*"(' + _V_DQ + r')"$'
)
_LINK_FAST = _re.compile(
    r'\s+rel\s*=\s*"(' + _V_DQ + r')"\s+href\s*=\s*"(' + _V_DQ + r')"'
    r'(?:\s+hreflang\s*=\s*"(' + _V_DQ + r')")?$'
)


def _anchor_attrs_walk(araw: str) -> tuple[str | None, str | None]:
    """(href, rel) of an anchor attr string that the _A_HREF_REL fast
    shape didn't match — the SINGLE copy of the general walk
    (lowercase names, dup-attr last wins) shared by the fused-anchor
    branch and the _A_RUN loop; callers inline the fast match and the
    final unescape (hot loop: an extra call per anchor measures ~3%
    of the parse row).

    Same gapless-tiling guard as the tree walk and the meta/link
    branch: _TAG_ATTR must consume araw exactly or the _A_FULL /
    _ATTR_GRAMMAR pair has drifted — fall back loudly rather than
    silently feeding a wrong/missing href into the frontier
    (ADVICE r06 pattern, completed here in r7)."""
    a_href = a_rel = None
    apos = 0
    for am in _TAG_ATTR.finditer(araw):
        if am.start() != apos:
            raise _Fallback
        apos = am.end()
        name, _, dq, sq, unq = am.groups()
        val = dq if dq is not None else (sq if sq is not None else unq)
        if not name.islower():
            name = name.lower()
        if name == "href":
            a_href = val  # dup attr: last wins
        elif name == "rel":
            a_rel = val
    if apos != len(araw):
        raise _Fallback
    return a_href, a_rel


def _fast_extract(s: str) -> dict:
    """Fused tokenize+extract: one pass over the strict-subset token
    grammar above, raising `_Fallback` on anything outside it, and
    extracting the Result fields DIRECTLY instead of building `_Node`
    objects and re-walking them.

    Subtree text (Title / H1 / anchors / body / head) is collected
    with a sink stack that mirrors the element stack: each collecting
    element pushes a sink when it is pushed; every data segment
    appends to all active sinks; the tolerant end-tag repair
    (`del stack[k:]`) truncates the sink stack to the popped frame's
    mark, so sinks deactivate exactly when their element leaves the
    tree path — reproducing `_text(subtree)` for arbitrarily nested /
    interleaved markup. Differential-fuzz-tested against
    `_extract_from_tree` (tests/test_purecore.py)."""
    title_s = h1_s = body_s = head_s = None
    desc = robots_v = canon_href = None
    hreflang: list = []
    links: list = []  # (href, sink, nofollow)
    all_parts: list = []
    sinks: list = []  # active text sinks, stack-ordered
    stack: list = []  # (tag, sink_mark)
    i, n = 0, len(s)
    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            seg = s[i:]
            if "&" in seg:
                seg = _unescape(seg)
            all_parts.append(seg)
            for sk in sinks:
                sk.append(seg)
            break
        if lt > i:
            seg = s[i:lt]
            if "&" in seg:
                seg = _unescape(seg)
            all_parts.append(seg)
            for sk in sinks:
                sk.append(seg)
        nxt = s[lt + 1] if lt + 1 < n else ""
        if nxt.isalpha():
            if nxt == "a" or nxt == "A":
                # r10 fused fast shape: href [rel] + plain tail + close
                # tag, one match. Anything else (other attrs,
                # self-closing, nested content) falls through to the
                # general _A_FULL path below unchanged.
                fm = _A_FAST.match(s, lt)
                if fm is not None:
                    g = fm.groups()
                    if g[7] is not None and not g[6]:
                        a_href = g[0] if g[0] is not None else (
                            g[1] if g[1] is not None else g[2])
                        a_rel = g[3] if g[3] is not None else (
                            g[4] if g[4] is not None else g[5])
                        if "&" in a_href:
                            a_href = _unescape(a_href)
                        if a_rel is not None and "&" in a_rel:
                            a_rel = _unescape(a_rel)
                        # fused anchors are never pushed on the stack, so
                        # their sink can never grow after this token —
                        # store the text as a plain str (the final comp
                        # type-dispatches str vs list)
                        i = fm.end()
                        tail = g[7]
                        sink_val = ""
                        if tail:
                            seg = _unescape(tail) if "&" in tail else tail
                            all_parts.append(seg)
                            for sk in sinks:
                                sk.append(seg)
                            sink_val = seg
                        links.append(
                            (a_href or "", sink_val, (a_rel or "") == "nofollow")
                        )
                        while True:
                            rm = _A_RUN_FAST.match(s, i)
                            if rm is None:
                                break
                            rg = rm.groups()
                            if rg[8] is None or rg[7]:
                                break  # outer dispatch reprocesses from i
                            lead = rg[0]
                            if lead:
                                all_parts.append(lead)
                                for sk in sinks:
                                    sk.append(lead)
                            a_href = rg[1] if rg[1] is not None else (
                                rg[2] if rg[2] is not None else rg[3])
                            a_rel = rg[4] if rg[4] is not None else (
                                rg[5] if rg[5] is not None else rg[6])
                            if "&" in a_href:
                                a_href = _unescape(a_href)
                            if a_rel is not None and "&" in a_rel:
                                a_rel = _unescape(a_rel)
                            rtail = rg[8]
                            sink_val = ""
                            if rtail:
                                seg = _unescape(rtail) if "&" in rtail else rtail
                                all_parts.append(seg)
                                for sk in sinks:
                                    sk.append(seg)
                                sink_val = seg
                            links.append(
                                (a_href or "", sink_val,
                                 (a_rel or "") == "nofollow")
                            )
                            i = rm.end()
                        continue
                # whole-anchor fusion: start tag (+ plain-text content
                # + close tag when simple) consumed in ONE regex match
                m = _A_FULL.match(s, lt)
                if m is not None:
                    araw, selfclose, tail = m.groups()
                    a_href = a_rel = None
                    if araw:
                        am = _A_HREF_REL.match(araw)
                        if am is not None:
                            g = am.groups()
                            a_href = g[0] if g[0] is not None else (
                                g[1] if g[1] is not None else g[2])
                            a_rel = g[3] if g[3] is not None else (
                                g[4] if g[4] is not None else g[5])
                        else:
                            a_href, a_rel = _anchor_attrs_walk(araw)
                        if a_href is not None and "&" in a_href:
                            a_href = _unescape(a_href)
                        if a_rel is not None and "&" in a_rel:
                            a_rel = _unescape(a_rel)
                    new_sink = []
                    links.append(
                        (a_href or "", new_sink, (a_rel or "") == "nofollow")
                    )
                    if selfclose:
                        # never pushed -> empty subtree; a matched tail
                        # belongs OUTSIDE the element (<a/>text</a>) —
                        # rewind to just after '>' and reprocess it
                        # generically (text + close-tag repair)
                        i = m.start(3) if tail is not None else m.end()
                        continue
                    i = m.end()
                    if tail is not None:
                        if tail:
                            seg = _unescape(tail) if "&" in tail else tail
                            all_parts.append(seg)
                            for sk in sinks:
                                sk.append(seg)
                            new_sink.append(seg)
                        # chase the sibling-anchor run: one C-level
                        # match per `text<a ...>text</a>` pair; breaks
                        # (unconsumed) on anything else
                        while True:
                            rm = _A_RUN.match(s, i)
                            if rm is None:
                                break
                            lead, araw, selfclose, rtail = rm.groups()
                            if rtail is None or selfclose:
                                break  # outer dispatch reprocesses from i
                            if lead:
                                all_parts.append(lead)
                                for sk in sinks:
                                    sk.append(lead)
                            a_href = a_rel = None
                            if araw:
                                am = _A_HREF_REL.match(araw)
                                if am is not None:
                                    g = am.groups()
                                    a_href = g[0] if g[0] is not None else (
                                        g[1] if g[1] is not None else g[2])
                                    a_rel = g[3] if g[3] is not None else (
                                        g[4] if g[4] is not None else g[5])
                                else:
                                    a_href, a_rel = _anchor_attrs_walk(araw)
                                if a_href is not None and "&" in a_href:
                                    a_href = _unescape(a_href)
                                if a_rel is not None and "&" in a_rel:
                                    a_rel = _unescape(a_rel)
                            new_sink = []
                            if rtail:
                                seg = _unescape(rtail) if "&" in rtail else rtail
                                all_parts.append(seg)
                                for sk in sinks:
                                    sk.append(seg)
                                new_sink.append(seg)
                            links.append(
                                (a_href or "", new_sink,
                                 (a_rel or "") == "nofollow")
                            )
                            i = rm.end()
                    else:
                        stack.append(("a", len(sinks)))
                        sinks.append(new_sink)
                    continue
                # <a...> that _A_FULL rejects is <abbr>/<a:x>/... or
                # malformed — generic path below handles both
            m = _TAG_START.match(s, lt)
            if not m:
                raise _Fallback
            tag, araw, selfclose = m.groups()
            if not tag.islower():
                tag = tag.lower()
            i = m.end()
            # attr values are only parsed for meta/link — the other
            # tags whose attrs extraction consumes; for every other
            # tag ``araw`` needs no re-validation — it is group 2 of
            # _TAG_START, i.e. it already matched the IDENTICAL attr
            # grammar per attr (the hypothesis differential covers
            # this subset equivalence). title/h1 take the
            # fused simple-tail path (r06): plain-text content
            # consumed with the close tag in one token.
            if tag == "a":
                # unreachable: _A_FULL shares _ATTR_GRAMMAR with
                # _TAG_START, so a start tag named exactly "a" that
                # _TAG_START accepts is one _A_FULL accepted above.
                # Tree-path fallback keeps us exact if that ever breaks.
                raise _Fallback
            if tag == "title" or tag == "h1":
                # no attrs consumed — araw already grammar-validated
                own = None
                if tag == "title":
                    if title_s is None:
                        title_s = own = []
                elif h1_s is None:
                    h1_s = own = []
                if selfclose:
                    continue
                m2 = _SIMPLE_TAIL[tag].match(s, i)
                if m2:
                    seg = m2.group(1)
                    if seg:
                        if "&" in seg:
                            seg = _unescape(seg)
                        all_parts.append(seg)
                        for sk in sinks:
                            sk.append(seg)
                        if own is not None:
                            own.append(seg)
                    i = m2.end()
                else:
                    stack.append((tag, len(sinks)))
                    if own is not None:
                        sinks.append(own)
                continue
            new_sink = None
            if tag in _EXTRACT_SET:
                if tag == "meta" or tag == "link":
                    # r10 fused fast shapes: the dominant double-quoted
                    # name/content and rel/href[/hreflang] attr strings
                    # in ONE anchored match — semantics mirror the
                    # general walk below exactly (values unescaped when
                    # used, first-match wins on desc/robots/canonical,
                    # empty-href alternates dropped)
                    handled = False
                    if araw:
                        if tag == "meta":
                            fmm = _META_FAST.match(araw)
                            if fmm is not None:
                                nm, content = fmm.groups()
                                if "&" in nm:
                                    nm = _unescape(nm)
                                if nm == "description" and desc is None:
                                    if "&" in content:
                                        content = _unescape(content)
                                    desc = content or ""
                                elif nm == "robots" and robots_v is None:
                                    if "&" in content:
                                        content = _unescape(content)
                                    robots_v = content or ""
                                handled = True
                        else:
                            flm = _LINK_FAST.match(araw)
                            if flm is not None:
                                rel_v, href_v, hl_v = flm.groups()
                                if "&" in rel_v:
                                    rel_v = _unescape(rel_v)
                                if rel_v == "canonical":
                                    if canon_href is None:
                                        canon_href = (
                                            _unescape(href_v) if "&" in href_v else href_v
                                        ) or ""
                                elif rel_v == "alternate":
                                    href = (
                                        _unescape(href_v) if "&" in href_v else href_v
                                    ) or ""
                                    if href != "":
                                        if hl_v is not None and "&" in hl_v:
                                            hl_v = _unescape(hl_v)
                                        hreflang.append((href, hl_v or ""))
                                handled = True
                    if not handled:
                        attrs = {}
                        if araw:
                            # tiling check: _TAG_ATTR must consume araw
                            # gaplessly or the two grammars have drifted —
                            # fall back loudly instead of silently
                            # diverging from the tree path (ADVICE r06;
                            # test_purecore also pins the patterns equal)
                            apos = 0
                            for am in _TAG_ATTR.finditer(araw):
                                if am.start() != apos:
                                    raise _Fallback
                                apos = am.end()
                                name, _, dq, sq, unq = am.groups()
                                val = dq if dq is not None else (sq if sq is not None else unq)
                                if val is not None and "&" in val:
                                    val = _unescape(val)
                                if not name.islower():
                                    name = name.lower()
                                attrs[name] = val  # dup attr: last wins
                            if apos != len(araw):
                                raise _Fallback
                        if tag == "meta":
                            nm = attrs.get("name", _MISSING)
                            if nm is not _MISSING:
                                nm = nm or ""
                                if nm == "description" and desc is None:
                                    desc = attrs.get("content") or ""
                                elif nm == "robots" and robots_v is None:
                                    robots_v = attrs.get("content") or ""
                        else:  # link
                            rel = attrs.get("rel", _MISSING)
                            if rel is not _MISSING and (rel or "") == "canonical":
                                if canon_href is None:
                                    canon_href = attrs.get("href") or ""
                            if rel == "alternate":  # plain-equality (tree: attrs.get)
                                href = attrs.get("href") or ""
                                if href != "":
                                    hreflang.append((href, attrs.get("hreflang") or ""))
                elif tag == "body":
                    if body_s is None:
                        body_s = new_sink = []
                else:  # head
                    if head_s is None:
                        head_s = new_sink = []
            if selfclose:
                pass  # never pushed -> empty subtree (sink stays empty)
            elif tag in ("script", "style"):
                cm = _CDATA_CLOSE[tag].search(s, i)
                if not cm:
                    raise _Fallback
                if cm.start() > i:
                    seg = s[i:cm.start()]  # raw CDATA, not unescaped
                    all_parts.append(seg)
                    for sk in sinks:
                        sk.append(seg)
                i = cm.end()
            elif tag not in _VOID:
                stack.append((tag, len(sinks)))
                if new_sink is not None:
                    sinks.append(new_sink)
        elif nxt == "/":
            m = _TAG_END.match(s, lt)
            if not m:
                raise _Fallback
            tag = m.group(1).lower()
            for k in range(len(stack) - 1, -1, -1):
                if stack[k][0] == tag:
                    del sinks[stack[k][1]:]
                    del stack[k:]
                    break
            i = m.end()
        elif nxt == "!":
            if s.startswith("<!--", lt):
                cm = _COMMENT_CLOSE.search(s, lt + 4)
                if not cm:
                    raise _Fallback
                i = cm.end()
            else:
                m = _SIMPLE_DECL.match(s, lt)
                if not m:
                    raise _Fallback
                i = m.end()
        elif nxt == "?":
            gt = s.find(_PI_CLOSE, lt)
            if gt < 0:
                raise _Fallback
            i = gt + 1
        elif lt + 1 < n:
            all_parts.append("<")
            for sk in sinks:
                sk.append("<")
            i = lt + 1
        else:
            all_parts.append("<")
            for sk in sinks:
                sk.append("<")
            i = n
    if body_s is not None:
        body_text = "".join(body_s)
    else:
        head_text = "".join(head_s) if head_s is not None else ""
        all_text = "".join(all_parts)
        body_text = all_text.replace(head_text, "", 1) if head_text else all_text
    return {
        "Title": "".join(title_s) if title_s is not None else "",
        "H1": "".join(h1_s) if h1_s is not None else "",
        "Description": desc if desc is not None else "",
        "Robots": robots_v if robots_v is not None else "",
        "CanonicalHref": canon_href if canon_href is not None else "",
        "Hreflang": hreflang,
        "Links": [
            (h, sk if type(sk) is str else "".join(sk), nf) for h, sk, nf in links
        ],
        "BodyTextHash": sha512_b64(body_text),
    }


_MISSING = object()
