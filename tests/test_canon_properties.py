"""Property-based canon invariants (hypothesis): idempotence of both
canonicalization modes and fast-path/slow-path resolution agreement
over generated URL shapes — SURVEY.md §7.4 risk #3 hardening."""

from urllib.parse import urljoin

import hypothesis.strategies as st
from hypothesis import given, settings

from crawlspark import canon

_scheme = st.sampled_from(["http", "https"])
_host = st.from_regex(r"[a-zA-Z0-9]([a-zA-Z0-9\-]{0,10}\.)+[a-z]{2,5}(:[0-9]{1,4})?", fullmatch=True)
# valid percent-escapes only — a bare '%' is a parse error by design
_pathseg = st.from_regex(r"([a-zA-Z0-9._~\-]|%41|%2F|%7e){0,8}", fullmatch=True)
_path = st.lists(_pathseg, max_size=4).map(lambda segs: "/" + "/".join(segs))
_query = st.one_of(
    st.none(),
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z]{1,4}", fullmatch=True),
            st.from_regex(r"[a-zA-Z0-9]{0,6}", fullmatch=True),
        ),
        max_size=3,
    ).map(lambda kvs: "&".join(f"{k}={v}" for k, v in kvs)),
)
_fragment = st.one_of(st.none(), st.from_regex(r"[a-zA-Z0-9]{0,6}", fullmatch=True))


@st.composite
def urls(draw):
    u = f"{draw(_scheme)}://{draw(_host)}{draw(_path)}"
    q = draw(_query)
    if q is not None:
        u += "?" + q
    f = draw(_fragment)
    if f is not None:
        u += "#" + f
    return u


@given(urls())
@settings(max_examples=200, deadline=None)
def test_make_address_idempotent(u):
    a = canon.make_address(u)
    assert a is not None
    again = canon.make_address(a["Full"])
    assert again == a


@given(urls())
@settings(max_examples=200, deadline=None)
def test_extended_canon_idempotent(u):
    e = canon.extended_canon(u)
    assert e is not None
    assert canon.extended_canon(e) == e
    # extended form has no fragment and sorted query
    assert "#" not in e
    ee = canon.parse_url(e)
    if ee.raw_query:
        parts = ee.raw_query.split("&")
        assert parts == sorted(parts)


@given(urls())
@settings(max_examples=200, deadline=None)
def test_seed_then_address_consistency(u):
    s = canon.canon_seed(u)
    assert s is not None
    # the fragmentless form of the seed key == the Address Full
    a = canon.make_address(u)
    frag_stripped = canon.serialize(canon.parse_url(s), with_fragment=False)
    assert frag_stripped == a["Full"]


@given(urls(), st.from_regex(r"/[a-zA-Z0-9._~\-/]{0,12}(\?[a-z]=[0-9])?", fullmatch=True))
@settings(max_examples=200, deadline=None)
def test_fast_path_equals_urljoin(base, href):
    if "/." in href:
        return
    fast = canon.resolve_address(base, href)
    u = canon.parse_url(urljoin(base, href))
    slow = canon._address_from_parts(u)
    assert fast == slow
