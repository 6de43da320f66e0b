"""The batch-iterative crawl engine: one BFS wave = one Spark job
chain (SURVEY.md §3.5). Reproduces the reference state machine's
observable semantics (/root/reference/crawler/state.go:20-115,
crawler.go:115-274) on the DataFrame API:

wave(d) = SparkCrawler._run_wave, one method per layer [its lap]:
  _fetch_parse_subwaves [t_fetch_parse]: _gate, robots gate on
     fetch_url (A10) [pandas UDF] -> per politeness sub-wave:
     _apply_budget, per-host budget (A11) [salted row_number; only
     when the sub-wave has more rows than the budget] ->
     _fetch_and_parse, fetch = join against the pages table (A12; the
     sandbox has no network — the pages fixture IS the web) + parse
     (A13-A15) [mapInArrow] -> results staged (A17-A18)
  _fold_bloom [t_bloom], on a second driver thread beside fetch+parse:
     the url_keys of frontier d (committed in manifest d-1, so all new)
     into the newest committed seen-filter bits; with no bits yet, once
     the seen rows reach bloom_min_seen, the seen-set up to manifest
     d-1 into empty bits -> bits(d+1) staged
  _stage_next_frontier [t_frontier]: _candidates, redirect targets ∪
     links (A15/A16) -> scope + nofollow filters (A6, A8) -> within-wave
     groupBy(url).min(priority) -> _dedup_against_seen, bloom prefilter
     (the bits just staged) + exact anti-join vs seen (A7) ->
     frontier(d+1) staged
  run() commits all of it + metrics atomically per wave (resumable;
  budgeted sub-waves also checkpoint mid-wave). Every Spark job runs
  under the description ``wave=<d> sub=<s> layer=<name>``.

Scale notes (the 10^10 design, exercised at fixture scale):
- frontier/seen/results never touch driver memory (store-backed);
- the pages join and the seen anti-join are the two big shuffles;
  AQE (+ skew join) is assumed on; the bloom cogroup keeps the
  anti-join probe side small (definitely-new URLs bypass it);
- hot hosts are salt-split before the politeness groupBy so no task
  inherits a whole host (north_rule skew clause);
- everything crossing Python<->JVM is Arrow-batched (mapInArrow /
  applyInPandas / pandas UDFs) — no row-at-a-time Python.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import bloomfilter, canon, oracle, robots, scratch
from .config import CrawlConfig
from .schema import (
    FRONTIER_SCHEMA,
    RESULT_ENGINE_FIELDS,
    RESULT_FIELDS,
)
from .scope import check_patterns, scope_filter_expr
from .store import SnapshotStore

__all__ = ["SparkCrawler", "bucketize_pages"]

# Fixed tuning numbers, read on the driver only (tests monkeypatch them).
# bucket count of the bucketed seen catalog table
SEEN_BUCKETS = 32
# seen-set rows (committed frontier + warm_seen) at which the verify join
# reads the bucketed seen table instead of the frontier slices
SEEN_BUCKETED_ROWS = 30_000_000
# deferred politeness slices up to this many rows hint-broadcast into the fetch join
FETCH_BROADCAST_ROWS = 500_000
# target rows per parse task; a wave at or under it parses without an exchange
PARSE_ROWS_PER_TASK = 512
# rows per host above which the politeness rank salt-splits the host
HOT_HOST_SALT_THRESHOLD = 10_000
# robots tables up to this many rows are collected into the gate UDF (0 = always join)
ROBOTS_LOCAL_THRESHOLD = 50_000
# ... and only if their bodies total at most this many bytes (bounded driver collect)
ROBOTS_LOCAL_MAX_BYTES = 64 * 1024 * 1024


def drop_catalog_table(spark: SparkSession, table: str) -> None:
    """DROP TABLE plus warehouse-location cleanup: the catalog is
    per-session but the warehouse dir persists, so an interrupted
    prior process can leave an orphan location that would corrupt a
    fresh saveAsTable (shared by bucketize_pages and the bucketed
    seen layout — code-review r08 deduplication)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:"),
        table.lower(),
    )
    if os.path.exists(loc):
        shutil.rmtree(loc)


def bucketize_pages(spark: SparkSession, pages_df: DataFrame, table: str, buckets: int = 32) -> DataFrame:
    """Persist the pages corpus as a bucketed+sorted table on its join
    key. The per-wave fetch join then shuffles ONLY the frontier side
    (the bucketed scan satisfies the join's distribution requirement —
    verified: `Bucketed: true`, no Exchange above the pages scan).
    At 10^10 scale this halves the biggest shuffle in the pipeline
    (PLANS.md shuffle inventory)."""
    drop_catalog_table(spark, table)
    pages_df.write.bucketBy(buckets, "url").sortBy("url").mode("overwrite").saveAsTable(table)
    return spark.table(table)

RESULT_FULL_SCHEMA = T.StructType(RESULT_FIELDS + RESULT_ENGINE_FIELDS)

def _with_url_parts(df: DataFrame) -> DataFrame:
    """scheme/host/fetch_key as pure column expressions over
    fetch_url, keeping only rows with both a scheme and a host.
    Frontier fetch_urls are ALWAYS outputs of canon (seeds via
    canon_seed, links via make_address serialization), i.e. already
    in normalized `scheme://host/path[?q][#f]` form — so regexp
    extraction here is exact, stays inside WholeStageCodegen, and
    costs no Python stage. A URL with no host or scheme (robots.Locate
    parse failure, e.g. mailto:) is skipped silently with no result
    row (state.go:57-61 FIXME path)."""
    u = F.col("fetch_url")
    return (
        df.withColumn("scheme", F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1))
        .withColumn("host", F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
        .withColumn("fetch_key", F.regexp_replace(u, r"#.*$", ""))
        .filter((F.col("host") != "") & (F.col("scheme") != ""))
    )


def _robots_allowed(urls, keys, robots_user_agent: str) -> pd.Series:
    """allowed(url) per row under the robots rules keyed by
    (status, body): one Matcher compiled per distinct key per batch.
    Both gate UDFs run this one loop and differ only in how they
    build the key, so their answers cannot diverge."""
    cache: dict = {}
    out = []
    for u, key in zip(urls, keys):
        m = cache.get(key)
        if m is None:
            m = cache[key] = robots.Matcher(robots.from_status(*key), robots_user_agent)
        out.append(m.allowed(u))
    return pd.Series(out, dtype=bool)


def _robots_allowed_udf(robots_user_agent: str):
    """Scalar pandas UDF: allowed(url | robots status+body) over the
    rules-join columns."""

    @F.pandas_udf(T.BooleanType())
    def allowed(url: pd.Series, status: pd.Series, body: pd.Series) -> pd.Series:  # noqa: ANN001
        keys = (
            (None if pd.isna(s) else int(s), b if isinstance(b, str) else None)
            for s, b in zip(status, body)
        )
        return _robots_allowed(url, keys, robots_user_agent)

    return allowed


def _robots_allowed_local_udf(robots_user_agent: str, robots_bc):
    """Gate UDF for the collected-robots path (r05): the
    (scheme, host) -> (status, body) table rides a SparkContext
    broadcast into the closure, so the gate needs NO rules join and
    no per-wave JVM broadcast build. A missing host maps to
    (None, None) exactly like a left-join miss (pinned by
    test_robots_local_gate_equals_join_gate)."""

    @F.pandas_udf(T.BooleanType())
    def allowed(url: pd.Series, scheme: pd.Series, host: pd.Series) -> pd.Series:  # noqa: ANN001
        table = robots_bc.value
        keys = (table.get((sc, h), (None, None)) for sc, h in zip(scheme, host))
        return _robots_allowed(url, keys, robots_user_agent)

    return allowed


def _seen_union(store: SnapshotStore, up_to: int | None = None) -> DataFrame | None:
    """THE seen-set recipe, in one place: url_keys of the committed
    frontier slices (manifests up to ``up_to``) ∪ the store's own
    warm_seen table, duplicates and tombstoned keys kept. Every
    enqueued URL was marked seen at enqueue time (crawler.go:143-145 +
    240-247), so the frontier slices ARE the seen history."""
    keys = [
        t.select("url_key")
        for t in (store.read("frontier", up_to=up_to), store.read("warm_seen"))
        if t is not None
    ]
    return functools.reduce(DataFrame.unionByName, keys) if keys else None


def _effective_seen_keys(store: SnapshotStore) -> DataFrame | None:
    """The distinct seen-set minus expired tombstones. Used for the
    warm-start load (prior store), the public seen() view, and
    expire()'s input match."""
    keys = _seen_union(store)
    if keys is None:
        return None
    keys = keys.distinct()
    tomb = store.read("expired")
    if tomb is not None:
        keys = keys.join(tomb.select("url_key").distinct(), "url_key", "left_anti")
    return keys


def _latest_bloom_of(store: SnapshotStore) -> DataFrame | None:
    """Newest committed seen-filter slice of a store, or None."""
    blooms = store.slices("bloom")
    return store.read_slices([blooms[-1][1]]).select("shard", "bits") if blooms else None


def _interrupted(store: SnapshotStore) -> bool:
    """Whether the store holds an interrupted crawl: the wave after its
    last commit has mid-wave checkpoints or a committed frontier with
    rows, so run(resume=True) has work left."""
    last = store.last_complete_wave()
    if last is None:
        return False
    nxt = dict(store.slices("frontier")).get(last)
    return bool(store.parts(last + 1) or (nxt and nxt["rows"] > 0))


_NONE6 = (None, None, None, None, None, None)


class _AddrCols:
    """Flat column builder for an Address struct (r10 columnar parse):
    one tuple per entry in make_resolver_parts field order, unzipped
    into the six child arrays at batch end (one list append per
    address instead of seven; nulls are the _NONE6 sentinel, detected
    by identity)."""

    __slots__ = ("rows",)

    def __init__(self):
        self.rows = []

    def add_none(self):
        self.rows.append(_NONE6)

    def add_parts(self, t):
        self.rows.append(t if t is not None else _NONE6)

    def add_dict(self, a):
        if a is None:
            self.rows.append(_NONE6)
        else:
            self.rows.append(
                (a["Full"], a["Scheme"], a["Opaque"], a["Host"], a["Path"], a["Query"])
            )

    def array(self, pa, typ):
        s = pa.string()
        rows = self.rows
        if rows:
            full, scheme, opaque, host, path, query = zip(*rows)
        else:
            full = scheme = opaque = host = path = query = ()
        return pa.StructArray.from_arrays(
            [
                pa.array(full, s),
                pa.array(scheme, s),
                pa.array(opaque, s),
                pa.array(host, s),
                pa.array(path, s),
                pa.array(query, s),
            ],
            fields=list(typ),
            mask=pa.array([r is _NONE6 for r in rows], pa.bool_()),
        )


# every input column the parse stage reads — _apply_parse_stage
# projects to these before the Python boundary (guide §4.1: Spark
# cannot prune columns into an opaque map function, so fetch_key /
# host / _req_headers would otherwise cross it for nothing)
_PARSE_INPUT_COLS = frozenset(
    (
        "url_key", "fetch_url", "depth", "priority", "_allowed", "url",
        "status", "status_code", "proto", "proto_major", "proto_minor",
        "content_type", "location", "headers", "html",
        "image_id", "image_bytes", "fmt", "caption", "img_w", "img_h", "phash",
    )
)


def _parse_map_arrow(check_payload: bool, blocked_counter=None):
    """The fetch+parse stage (r10, guide §4.2): joined (frontier ⋈
    pages [⋈ images]) Arrow batches -> full nested Result rows, one
    pure function of the row. Blocked rows emit blocked results
    inline; LEFT-join misses drop (fetch error, crawler.go:256-259).
    Per-row decisions go through the parity primitives
    (canon.make_address, canon.make_resolver_parts,
    htmlex.extract_html, oracle._sorted_header_pairs,
    canon.resolve_address, oracle's blocked shape), but the output
    RecordBatch is assembled from FLAT column lists — no per-row
    Result/Link/Address dicts and no nested-dict -> Arrow conversion
    (measured ~50 us/row of the bench parse). Output is pinned
    row-identical to the dict-per-row oracle parse in
    tests/test_engine.py::test_parse_map_arrow_differential."""

    def fn(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        from . import htmlex, imagecodec

        schema = pa.schema(
            [pa.field(f.name, to_arrow_type(f.dataType)) for f in RESULT_FULL_SCHEMA.fields]
        )
        t_addr = schema.field("Address").type
        t_canon = schema.field("Canonical").type
        t_link = schema.field("Links").type.value_type
        t_hl = schema.field("Hreflang").type.value_type
        t_pair = schema.field("Header").type.value_type
        t_payload = schema.field("Payload").type
        i32, i64, s_t = pa.int32(), pa.int64(), pa.string()
        make_address = canon.make_address
        make_resolver_parts = canon.make_resolver_parts
        sorted_pairs = oracle._sorted_header_pairs
        extract_html = htmlex.extract_html

        for rb in batches:
            idx = {n: j for j, n in enumerate(rb.schema.names)}
            col = lambda nm: rb.column(idx[nm]).to_pylist()  # noqa: E731
            has_img = "image_bytes" in idx
            has_gate = "_allowed" in idx
            fetch_url_c = col("fetch_url")
            depth_c = col("depth")
            prio_c = col("priority")
            key_c = col("url_key")
            status_c = col("status")
            sc_c = col("status_code")
            proto_c = col("proto")
            pmaj_c = col("proto_major")
            pmin_c = col("proto_minor")
            ct_c = col("content_type")
            html_c = col("html")
            loc_c = col("location")
            headers_c = col("headers")
            allowed_c = col("_allowed") if has_gate else None
            url_c = col("url") if has_gate else None
            if has_img:
                img_id_c = col("image_id")
                img_b_c = col("image_bytes")
                fmt_c = col("fmt")
                cap_c = col("caption")
                imw_c = col("img_w")
                imh_c = col("img_h")
                ph_c = col("phash")

            n_blocked = 0
            addr_b = _AddrCols()
            resolves_b = _AddrCols()
            # bound-local append methods for the per-link hot loop
            # (~60 links/row at bench shape: the attribute lookups are
            # a measurable slice of the stage)
            depth_o = []; bodyhash_o = []; desc_o = []; title_o = []; h1_o = []
            robots_o = []; status_o = []; sc_o = []; proto_o = []
            pmaj_o = []; pmin_o = []; prio_o = []; key_o = []
            canon_b = _AddrCols(); canon_href = []; canon_mask = []
            link_addr_b = _AddrCols(); link_anchor = []; link_href = []; link_nf = []
            link_off = []; link_cur = 0
            la_app = link_addr_b.rows.append
            lan_app = link_anchor.append; lh_app = link_href.append
            lnf_app = link_nf.append
            hl_addr_b = _AddrCols(); hl_href = []; hl_lang = []
            hl_off = []; hl_cur = 0
            hla_app = hl_addr_b.rows.append
            hlh_app = hl_href.append; hll_app = hl_lang.append
            hdr_k = []; hdr_v = []; hdr_off = []; hdr_cur = 0
            pay_mask = []; pay_id = []; pay_cap = []; pay_fmt = []
            pay_w = []; pay_h = []; pay_ph = []; pay_psnr = []; pay_ok = []

            for i in range(rb.num_rows):
                if has_gate:
                    if not allowed_c[i]:
                        # oracle.blocked_result shape (state.go:58-61)
                        addr_b.add_dict(make_address(fetch_url_c[i]))
                        depth_o.append(depth_c[i])
                        bodyhash_o.append(None)
                        desc_o.append(""); title_o.append(""); h1_o.append("")
                        robots_o.append("")
                        canon_mask.append(True); canon_b.add_none(); canon_href.append(None)
                        link_off.append(None)
                        hl_off.append(None)
                        status_o.append("Blocked by robots.txt")
                        sc_o.append(None); proto_o.append(None)
                        pmaj_o.append(None); pmin_o.append(None)
                        hdr_off.append(None)
                        resolves_b.add_none()
                        prio_o.append(prio_c[i]); key_o.append(key_c[i])
                        pay_mask.append(True); pay_id.append(None); pay_cap.append(None)
                        pay_fmt.append(None); pay_w.append(None); pay_h.append(None)
                        pay_ph.append(None); pay_psnr.append(None); pay_ok.append(None)
                        n_blocked += 1
                        continue
                    if url_c[i] is None:  # LEFT-join miss: no page -> fetch error, silent drop
                        continue
                addr = make_address(fetch_url_c[i])
                base_full = addr["Full"] if addr else None
                addr_b.add_dict(addr)
                depth_o.append(depth_c[i])
                status_o.append(status_c[i])
                sc0 = sc_c[i]
                sc_o.append(sc0 or None)
                proto_o.append(proto_c[i])
                pmaj_o.append(pmaj_c[i]); pmin_o.append(pmin_c[i])
                pairs = sorted_pairs(headers_c[i])
                hdr_off.append(hdr_cur)
                for k, v in pairs:
                    hdr_k.append(k)
                    hdr_v.append(v)
                hdr_cur += len(pairs)
                ct = ct_c[i] or ""
                html = html_c[i]
                if ct.startswith("text/html") and html:
                    resolve = make_resolver_parts(base_full)
                    ex = extract_html(html)
                    title_o.append(ex["Title"]); h1_o.append(ex["H1"])
                    desc_o.append(ex["Description"]); robots_o.append(ex["Robots"])
                    bodyhash_o.append(ex["BodyTextHash"])
                    canon_mask.append(False)
                    canon_b.add_parts(resolve(ex["CanonicalHref"]))
                    canon_href.append(ex["CanonicalHref"])
                    hl = ex["Hreflang"]
                    if hl:
                        hl_off.append(hl_cur)
                        # alternate links repeat one href across
                        # languages — reuse the last resolve (pure fn)
                        ph = pt = None
                        for href, lang in hl:
                            if href == ph:
                                t = pt
                            else:
                                t = resolve(href)
                                ph, pt = href, t
                            hla_app(t if t is not None else _NONE6)
                            hlh_app(href)
                            hll_app(lang)
                        hl_cur += len(hl)
                    else:
                        hl_off.append(None)  # [] -> None, result.go omitempty parity
                    lk = ex["Links"]
                    if lk:
                        link_off.append(link_cur)
                        for href, anchor, nofollow in lk:
                            t = resolve(href)
                            la_app(t if t is not None else _NONE6)
                            lan_app(anchor)
                            lh_app(href)
                            lnf_app(nofollow)
                        link_cur += len(lk)
                    else:
                        link_off.append(None)
                else:
                    title_o.append(""); h1_o.append(""); desc_o.append("")
                    robots_o.append("")
                    bodyhash_o.append(None)
                    canon_mask.append(True); canon_b.add_none(); canon_href.append(None)
                    hl_off.append(None)
                    link_off.append(None)
                if sc0 and 300 <= sc0 < 400:
                    resolves_b.add_dict(canon.resolve_address(base_full, loc_c[i] or ""))
                else:
                    resolves_b.add_dict(addr)
                prio_o.append(prio_c[i]); key_o.append(key_c[i])
                if has_img and img_id_c[i] is not None and img_b_c[i] is not None:
                    psnr_v, ok = None, None
                    if check_payload:
                        try:
                            dec = imagecodec.decode(img_b_c[i], fmt_c[i])
                            truth = imagecodec.synth_image(
                                img_id_c[i], int(imw_c[i]), int(imh_c[i])
                            )
                            psnr_v = imagecodec.psnr(truth, dec)
                            ok = bool(psnr_v >= 40.0)
                        except NotImplementedError:
                            psnr_v, ok = None, None
                    pay_mask.append(False)
                    pay_id.append(img_id_c[i]); pay_cap.append(cap_c[i])
                    pay_fmt.append(fmt_c[i])
                    pay_w.append(int(imw_c[i])); pay_h.append(int(imh_c[i]))
                    pay_ph.append(int(ph_c[i]) if ph_c[i] is not None else None)
                    pay_psnr.append(psnr_v); pay_ok.append(ok)
                else:
                    pay_mask.append(True); pay_id.append(None); pay_cap.append(None)
                    pay_fmt.append(None); pay_w.append(None); pay_h.append(None)
                    pay_ph.append(None); pay_psnr.append(None); pay_ok.append(None)

            if blocked_counter is not None and n_blocked:
                blocked_counter.add(n_blocked)

            link_off.append(link_cur)
            hl_off.append(hl_cur)
            hdr_off.append(hdr_cur)
            link_struct = pa.StructArray.from_arrays(
                [
                    link_addr_b.array(pa, t_link.field("Address").type),
                    pa.array(link_anchor, s_t),
                    pa.array(link_href, s_t),
                    pa.array(link_nf, pa.bool_()),
                ],
                fields=list(t_link),
            )
            hl_struct = pa.StructArray.from_arrays(
                [
                    hl_addr_b.array(pa, t_hl.field("Address").type),
                    pa.array(hl_href, s_t),
                    pa.array(hl_lang, s_t),
                ],
                fields=list(t_hl),
            )
            pair_struct = pa.StructArray.from_arrays(
                [pa.array(hdr_k, s_t), pa.array(hdr_v, s_t)], fields=list(t_pair)
            )
            canon_arr = pa.StructArray.from_arrays(
                [canon_b.array(pa, t_canon.field("Address").type), pa.array(canon_href, s_t)],
                fields=list(t_canon),
                mask=pa.array(canon_mask, pa.bool_()),
            )
            payload_arr = pa.StructArray.from_arrays(
                [
                    pa.array(pay_id, s_t), pa.array(pay_cap, s_t), pa.array(pay_fmt, s_t),
                    pa.array(pay_w, i32), pa.array(pay_h, i32), pa.array(pay_ph, i64),
                    pa.array(pay_psnr, pa.float64()), pa.array(pay_ok, pa.bool_()),
                ],
                fields=list(t_payload),
                mask=pa.array(pay_mask, pa.bool_()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    addr_b.array(pa, t_addr),
                    pa.array(depth_o, i64),
                    pa.array(bodyhash_o, s_t),
                    pa.array(desc_o, s_t),
                    pa.array(title_o, s_t),
                    pa.array(h1_o, s_t),
                    pa.array(robots_o, s_t),
                    canon_arr,
                    pa.ListArray.from_arrays(pa.array(link_off, i32), link_struct),
                    pa.ListArray.from_arrays(pa.array(hl_off, i32), hl_struct),
                    pa.array(status_o, s_t),
                    pa.array(sc_o, i64),
                    pa.array(proto_o, s_t),
                    pa.array(pmaj_o, i64),
                    pa.array(pmin_o, i64),
                    pa.ListArray.from_arrays(pa.array(hdr_off, i32), pair_struct),
                    resolves_b.array(pa, t_addr),
                    pa.array(prio_o, i32),
                    pa.array(key_o, s_t),
                    payload_arr,
                ],
                schema=schema,
            )

    return fn


def _apply_parse_stage(df, check_payload: bool, blocked_counter=None):
    """Apply the fetch+parse stage to a joined frame — the single
    site that binds the parse map to the execution mode. r10:
    columnar mapInArrow (_parse_map_arrow), projected to the columns
    the parse reads."""
    keep = [c for c in df.columns if c in _PARSE_INPUT_COLS]
    return df.select(*keep).mapInArrow(
        _parse_map_arrow(check_payload, blocked_counter), RESULT_FULL_SCHEMA
    )


class SparkCrawler:
    """Distributed reimplementation of the reference crawler
    (see module docstring). ``pages_df``/``robots_df`` replace the
    network; ``images_df`` is the input_hint image+caption table."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        pages_df: DataFrame,
        robots_df: DataFrame,
        images_df: DataFrame | None = None,
        workdir: str | None = None,
        check_payload: bool = True,
        warm_store: str | None = None,
    ):
        from .shipping import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.cfg = cfg.validate()
        check_patterns(cfg.Include)
        check_patterns(cfg.Exclude)
        self.workdir = workdir or scratch.crawl_workdir()
        self.store = SnapshotStore(spark, self.workdir)
        self.check_payload = check_payload
        # enum knobs fail LOUDLY on unknown values (code-review r08):
        # the engine tests canon_mode == "extended" only, so a typo'd
        # "Extended" would otherwise silently run go-parity keys
        if cfg.canon_mode not in ("go-parity", "extended"):
            raise ValueError(
                f"unknown canon_mode {cfg.canon_mode!r} "
                "(allowed: ('go-parity', 'extended'))"
            )
        # seen-prefilter bits: a cache in front of the exact seen-set,
        # never shrunk — a stale bit only sends a key to the verify join
        self.bloom_cfg = bloomfilter.BloomConfig(cfg.bloom_shards, cfg.bloom_bits_per_shard)
        # warm start (re-crawl): seed the seen-set (minus the prior
        # crawl's expired tombstones) and the seen-filter bits from a
        # prior crawl's store — a URL expired via expire() is re-fetched
        # when re-linked, every other previously-seen URL is skipped.
        # Requires the same bloom_* config as the prior crawl (the bits
        # layout is config-dependent), and a prior with bits must be a
        # finished crawl: its newest bits cover only the frontier slices
        # a completed wave consumed, not a pending next frontier.
        self._warm_seen: DataFrame | None = None
        self._warm_bits: DataFrame | None = None
        # bucketed seen layout: manifest waves synced into the seen
        # catalog table this run (None = table not built yet this run)
        self._seen_tbl_synced: set | None = None
        if warm_store:
            prior = SnapshotStore(spark, warm_store)
            if prior.slices("frontier"):
                self._warm_seen = _effective_seen_keys(prior)
                self._warm_bits = _latest_bloom_of(prior)
                if self._warm_bits is not None:
                    self._check_warm_filter_layout(prior)
                    if _interrupted(prior):
                        raise ValueError(
                            f"warm_store {prior.root} holds an interrupted crawl whose "
                            "seen-filter bits do not cover its pending frontier — "
                            "finish it with run(resume=True) first"
                        )
        # the "web": pages keyed by fragmentless canonical url
        self.pages = pages_df
        if images_df is not None:
            self.pages = pages_df.join(
                images_df.select(
                    F.col("image_id").alias("_img_id"),
                    F.col("bytes").alias("image_bytes"),
                    F.col("w").alias("img_w"),
                    F.col("h").alias("img_h"),
                    "fmt",
                    "caption",
                    "phash",
                ),
                pages_df["image_id"] == F.col("_img_id"),
                "left",
            ).drop("_img_id")
        self.robots = robots_df.select(
            F.col("scheme").alias("r_scheme"),
            F.col("host").alias("r_host"),
            # int cast at construction (ADVICE r05): both gate paths
            # (join UDF and collect-time table) then see the same
            # int-or-null status regardless of the caller's column
            # type — the Matcher cache keys are type-identical by
            # construction, and a NaN status can't crash the bounded
            # collect below
            F.col("status_code").cast("int").alias("robots_status"),
            F.col("body").alias("robots_body"),
        )
        # collected-robots gate (r05): a small rules table is collected
        # once into a dict of the SAME (status, body) tuples the join-path
        # UDF keys its Matcher cache on (a missing host behaves like a
        # left-join miss). The size probe runs BEFORE the collect and
        # bounds rows AND body bytes (octet_length: len() counts chars;
        # 50k rows of 500KB robots.txt would be a 20GB+ driver collect).
        # Duplicate (scheme, host) rows raise on both paths: the dict
        # would keep the last row and the join would fan frontier rows
        # out, either one silently changing the crawl's output.
        self._robots_bc = None
        th = ROBOTS_LOCAL_THRESHOLD
        fits = False
        if th:
            probe = (
                self.robots.limit(th + 1)
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.octet_length("robots_body")).alias("b"),
                )
                .first()
            )
            fits = probe["n"] <= th and (probe["b"] or 0) <= ROBOTS_LOCAL_MAX_BYTES
        if fits:
            rows = self.robots.collect()
            table = {
                (r["r_scheme"], r["r_host"]): (
                    int(r["robots_status"]) if r["robots_status"] is not None else None,
                    r["robots_body"] if isinstance(r["robots_body"], str) else None,
                )
                for r in rows
            }
            if len(table) != len(rows):
                raise ValueError("robots table has duplicate (scheme, host) rows")
            self._robots_bc = spark.sparkContext.broadcast(table)
        else:
            # join path: one aggregate over the rules, one row back
            dup = (
                self.robots.groupBy("r_scheme", "r_host").count()
                .filter(F.col("count") > 1).first()
            )
            if dup is not None:
                raise ValueError(
                    "robots table has duplicate (scheme, host) rows, e.g. "
                    f"{(dup['r_scheme'], dup['r_host'])!r}"
                )

    # ------------------------------------------------------------------

    def _initial_frontier(self) -> DataFrame:
        """The seed frontier, built from an Arrow table: no Python
        worker stage, and one partition per PARSE_ROWS_PER_TASK seeds,
        so the seed slice is one file and wave 0 reads it as one task."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        keys, urls = [], []
        extended = self.cfg.canon_mode == "extended"
        for s in self.cfg.From:
            cs = canon.canon_seed(s)
            if cs is None:
                raise ValueError(f"bad seed URL {s!r}")  # parity: Start() error
            keys.append((canon.extended_canon(cs) or cs) if extended else cs)
            urls.append(cs)
        n = len(keys)
        table = pa.Table.from_pydict(
            {
                "url_key": keys,
                "fetch_url": urls,
                "depth": [0] * n,
                "priority": [oracle.PRIORITY_SEED] * n,
                "seed_order": list(range(n)),
            },
            schema=to_arrow_schema(FRONTIER_SCHEMA),
        )
        return self.spark.createDataFrame(table, FRONTIER_SCHEMA).coalesce(
            max(1, math.ceil(n / PARSE_ROWS_PER_TASK))
        )

    def _apply_budget(
        self, gated: DataFrame, budget: int
    ) -> tuple[DataFrame, DataFrame]:
        """Per-host politeness budget with hot-host salt-split: take
        the first `budget` rows per (host, salt) slice ordered by
        (priority, url_key); the rest defer to a sub-wave. By default
        slices keep aggregate take <= budget per host only
        approximately when salted (ceil(budget/n) per slice can
        over-admit up to n-1 rows) — the budget is a pacing device,
        not a semantic cap (the reference's WaitTime pacing never
        drops URLs either: state.go:29-41), so deferred rows always
        complete eventually.

        Skew: the per-host row count comes from a ``groupBy(host)``
        map-side partial aggregate broadcast back onto the frame — NOT
        a ``count over Window.partitionBy(host)``, which would colocate
        every row of a hot host into one task (a 10^6-row single-task
        sort on a 1%-host at a 10^8-row wave) before the salt even
        exists (VERDICT r03 #2). The only per-host-partitioned window
        left is the salted row_number, whose partitions are bounded by
        ``HOT_HOST_SALT_THRESHOLD``.

        The input is the GATED frame (``_allowed`` still attached):
        robots-blocked rows consume no fetch budget — they all ride
        sub-wave 0 (rank partitions include ``_allowed`` so blocked
        rows never displace allowed ones from a budget slot) and emit
        their blocked Results inline in the single-pass parse. The
        host count deliberately includes blocked rows: filtering on
        ``_allowed`` here would re-evaluate the robots UDF in the
        counts branch (Catalyst doesn't share subtrees across a join),
        and the count only sizes the salt slices — over-slicing a
        host with many blocked rows just defers a little more."""
        threshold = HOT_HOST_SALT_THRESHOLD
        host_counts = gated.groupBy("host").agg(F.count("*").alias("_host_n"))
        # no forced broadcast hint (code-review r04): a broad-web wave
        # has 10^6-10^7 distinct hosts — an unconditional broadcast of
        # the counts frame would OOM the driver on exactly the
        # production path. AQE broadcasts it when it is actually small
        # and falls back to a shuffle join (with skew-split) otherwise;
        # the join's probe side streams, it never sorts a hot host.
        counted = gated.join(host_counts, "host", "left")
        n_slices = F.greatest(
            F.lit(1),
            F.ceil(F.coalesce(F.col("_host_n"), F.lit(1)) / F.lit(threshold)),
        )
        salted = counted.withColumn(
            "_salt", F.pmod(F.xxhash64("url_key"), n_slices).cast("int")
        )
        slice_budget = F.greatest(F.lit(1), F.ceil(F.lit(budget) / n_slices))
        ranked = salted.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("host", "_salt", "_allowed").orderBy(
                    "priority", "url_key"
                )
            ),
        )
        ranked = ranked.withColumn(
            "_take", (~F.col("_allowed")) | (F.col("_rk") <= slice_budget)
        )
        take = ranked.filter("_take").drop("_host_n", "_salt", "_rk", "_take")
        defer = ranked.filter("NOT _take").drop("_host_n", "_salt", "_rk", "_take")
        return take, defer

    def _fetch_join(
        self, gated_allowed: DataFrame, all_allowed: bool = False,
        rows_hint: int | None = None,
    ) -> DataFrame:
        """The fetch interface: frontier rows joined against the pages
        corpus (the sandbox's network). Config ``Header`` — the extra
        request headers the reference sends on every fetch
        (crawler.go:298-310) — rides along as a ``_req_headers``
        passthrough column: the pages-join fetch can't use it, but a
        production HTTP fetcher swapped in at this boundary receives
        the pairs per-row.

        Single-pass (the input is the gated frame, carrying the robots
        ``_allowed`` flag — VERDICT r03 #4): the join goes LEFT so
        blocked rows (and fetch errors) survive to the parse map,
        which emits blocked results inline. ``_allowed`` is part of
        the join condition (a residual on the equi-join) so a blocked
        row NEVER matches a page row: on a pages table with duplicate
        urls it emits exactly one blocked Result, not one per matching
        page row (ADVICE r02).

        ``all_allowed=True`` (politeness sub-waves >= 1, r9): blocked
        rows all ride sub-wave 0, so a deferred slice is 100%
        robots-allowed — and for allowed rows the LEFT join's only
        extra output is page-miss rows the parse map silently drops
        (fetch error). An INNER join is therefore output-identical
        there, and unlike leftOuter it lets Spark build the hash on
        the FRONTIER side: a left-outer join can never broadcast its
        preserved side, so the non-bucketed corpus was shuffled+sorted
        per sub-wave even for a ~200-row hot-host leftover slice
        (measured 3.4 s/sub-wave at local[8], the dominant budgeted
        Amdahl term — VERDICT r08 #2). With the inner join a small
        slice (rows_hint <= FETCH_BROADCAST_ROWS) is hint-broadcast
        and the corpus is scanned but never exchanged; big slices
        fall back to AQE's choice, and the bucketed corpus remains
        the 10^10 shape either way."""
        slice_side = gated_allowed.select(
            "url_key", "fetch_url", "depth", "priority", "fetch_key", "host", "_allowed"
        )
        if (
            all_allowed
            and rows_hint is not None
            and rows_hint <= FETCH_BROADCAST_ROWS
        ):
            slice_side = slice_side.hint("BROADCAST")
        joined = slice_side.join(
            self.pages,
            (F.col("fetch_key") == self.pages["url"]) & F.col("_allowed"),
            "inner" if all_allowed else "left",
        )
        if self.cfg.Header:
            joined = joined.withColumn(
                "_req_headers",
                F.array(
                    *[
                        F.struct(F.lit(h["K"]).alias("K"), F.lit(h["V"]).alias("V"))
                        for h in self.cfg.Header
                    ]
                ),
            )
        return joined

    def _fetch_and_parse(
        self,
        gated_allowed: DataFrame,
        rows_hint: int | None = None,
        blocked_counter=None,
        all_allowed: bool = False,
    ) -> DataFrame:
        joined = self._fetch_join(gated_allowed, all_allowed, rows_hint)
        # AQE coalesces the join output by BYTE size (~50 MB of html
        # looks "small" -> 1-2 partitions), which would serialize the
        # CPU-heavy parse UDF onto 1-2 cores. Parse cost scales with
        # ROWS, not bytes — force row-parallelism before the Python
        # stage (cheap shuffle vs single-threaded parse).
        # rows_hint (the frontier row count, free from the manifest)
        # scales the task count: target PARSE_ROWS_PER_TASK rows per
        # Arrow task, floored at shuffle_partitions (full core use on
        # mid-size waves), capped at parse_partitions (fine grain for
        # straggler smoothing on big waves), never more tasks than
        # rows. Measured: 96 fixed tasks cost the deep drain ~25% on
        # its sub-15k-row waves, while the 200k-row wide wave needs
        # all 96 (32 tasks = +70% from stragglers).
        cap = self.cfg.parse_partitions or self.cfg.shuffle_partitions
        if rows_hint is not None:
            scaled = max(
                min(self.cfg.shuffle_partitions, rows_hint),
                rows_hint // PARSE_ROWS_PER_TASK,
            )
            n_parse = max(1, min(cap, scaled))
        else:
            n_parse = cap
        if rows_hint is not None and rows_hint <= PARSE_ROWS_PER_TASK:
            # one Arrow batch worth of rows: the exchange stage costs
            # more (~0.25 s scheduling on this VM) than parsing the
            # whole wave in the join's own tasks — skip it (r05, the
            # crawl_deep per-wave floor attack, VERDICT r04 #4)
            pass
        else:
            joined = joined.repartition(n_parse, "url_key")
        if self.cfg.pacing_enabled and self.cfg.wait_seconds > 0:
            wait = self.cfg.wait_seconds
            budget = self.cfg.per_host_budget or self.cfg.Connections

            def pace(key, pdf):
                # token pacing per host group: Connections-wide pipeline,
                # one spawn per wait tick (state.go:29-41 analog)
                time.sleep(wait * max(0, math.ceil(len(pdf) / max(budget, 1)) - 1))
                return pdf

            joined = joined.groupBy("host").applyInPandas(pace, joined.schema)
        return _apply_parse_stage(joined, self.check_payload, blocked_counter)

    def _candidates(self, parsed_results: DataFrame) -> DataFrame:
        r = parsed_results
        redirects = (
            r.filter((F.col("StatusCode") >= 300) & (F.col("StatusCode") < 400))
            .filter(F.col("ResolvesTo").isNotNull() & F.col("ResolvesTo.Full").isNotNull())
            .select(
                F.col("ResolvesTo.Full").alias("fetch_url"),
                F.lit(oracle.PRIORITY_REDIRECT).alias("priority"),
                F.lit(False).alias("nofollow"),
            )
        )
        links = (
            r.select(F.explode("Links").alias("link"))
            .select(
                F.col("link.Address.Full").alias("fetch_url"),
                F.lit(oracle.PRIORITY_LINK).alias("priority"),
                F.coalesce(F.col("link.Nofollow"), F.lit(False)).alias("nofollow"),
            )
            .filter(F.col("fetch_url").isNotNull())
        )
        cand = redirects.unionByName(links)
        # scope is evaluated on the discovered (go-parity) URL, as the
        # reference does (crawler.go:234)
        cand = cand.filter(
            scope_filter_expr(F.col("fetch_url"), self.cfg.Include, self.cfg.Exclude)
        )
        if self.cfg.RespectNofollow:
            cand = cand.filter(~F.col("nofollow"))
        if self.cfg.canon_mode == "extended":
            # north_rule production canonicalization: the dedup/seen key
            # is the RFC-3986 extended normal form (lowercase host,
            # percent-decode unreserved, sorted query) — vectorized
            # pandas UDF; fetch still uses the discovered URL
            @F.pandas_udf(T.StringType())
            def _ext(urls: pd.Series) -> pd.Series:
                return urls.map(lambda u: canon.extended_canon(u) or u)

            cand = cand.withColumn("url_key", _ext(F.col("fetch_url")))
        else:
            cand = cand.withColumn("url_key", F.col("fetch_url"))
        # within-wave first-discovery-wins -> min (priority, fetch_url)
        # per canonical key (deterministic refinement, SURVEY.md §7.6)
        return (
            cand.groupBy("url_key")
            .agg(F.min(F.struct("priority", "fetch_url")).alias("first"))
            .select(
                "url_key",
                F.col("first.priority").alias("priority"),
                F.col("first.fetch_url").alias("fetch_url"),
            )
        )

    def _dedup_against_seen(
        self, cand: DataFrame, seen: DataFrame | None, bits: DataFrame | None, bucketed: bool
    ):
        """Exact seen-set dedup (A7, crawler.go:240-247) behind the
        probabilistic prefilter. Two measured verify-join shapes
        (scripts/seen_scan_bench.py, VERDICT r07 #2); the caller picks
        one by seen size (``SEEN_BUCKETED_ROWS``):

        * slices — maybe ⋉̸ seen. Fastest on local/single
          node at every measured seen size (0.89/1.12/2.89 s at
          2M/8M/32M seen keys): in-memory shuffle ≈ memcpy, so the
          sort-merge's seen shuffle costs less than an extra job. (A
          slice-layout semi shape — seen ⋉ maybe-keys, then probed ⋉̸
          hits — was removed: ~20% slower at every size, 1.02/1.45/
          3.50 s, BENCH.md r8.)
        * bucketed — hits := seen ⋉ maybe_keys with a SHUFFLE_HASH
          hint on the wave-bounded side against the bucketed seen
          table (_bucketed_seen), then probed ⋉̸ hits: the scan
          satisfies the join's distribution requirement with no
          exchange AND no sort, measured FLAT in seen size (1.04 s at
          8M -> 1.09 s at 32M). The 10^10 layout. A fresh row (bloom
          says definitely-unseen) can't be in seen, hence never in
          hits, so one anti-join over all probed rows replaces the
          fresh/maybe union split.

        Output identical across both layouts (pinned by
        test_seen_layout_bucketed_*)."""
        if seen is None:
            return cand
        if bits is not None:
            probed = bloomfilter.probe(cand, bits, "url_key", self.bloom_cfg)
            if bucketed:
                # force the shuffled-hash build onto the hinted
                # wave-bounded side: the bucketed seen scan then
                # satisfies the join's distribution requirement with
                # NO exchange and no sort at any seen size
                # (seen_scan_bench part A, `bucketed` column)
                maybe_keys = (
                    probed.filter(F.col("_maybe_seen")).select("url_key").hint("SHUFFLE_HASH")
                )
                hits = seen.select("url_key").join(maybe_keys, "url_key", "left_semi")
                return probed.drop("_maybe_seen", "_h64", "_shard").join(
                    hits, "url_key", "left_anti"
                )
            fresh = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen", "_h64", "_shard")
            maybe = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen", "_h64", "_shard")
            verified = maybe.join(seen.select("url_key"), "url_key", "left_anti")
            return fresh.unionByName(verified)
        if bucketed:
            keys = cand.select("url_key").hint("SHUFFLE_HASH")
            hits = seen.select("url_key").join(keys, "url_key", "left_semi")
            return cand.join(hits, "url_key", "left_anti")
        return cand.join(seen.select("url_key"), "url_key", "left_anti")

    def _seen_table_name(self) -> str:
        import hashlib

        return "seen_keys_" + hashlib.md5(
            self.store.root.encode("utf-8")
        ).hexdigest()[:12]

    def _bucketed_seen(self, d: int) -> DataFrame | None:
        """Seen history as a catalog table bucketed on url_key (the
        layout at ``SEEN_BUCKETED_ROWS`` seen keys and above, VERDICT
        r07 #2 layout change).

        The slice layout re-reads and (past the broadcast threshold)
        re-shuffles the whole seen history every wave; the bucketed
        layout pays one wave-bounded append per wave instead, and the
        verify join reads a scan that already satisfies the join's
        hash distribution — no exchange, no sort, measured FLAT in
        seen size (scripts/seen_scan_bench.py part A).

        The table is a pure cache of the committed frontier/warm_seen
        slices' url_keys: rebuilt from committed manifests on first
        use in a run (so crashes and truncate_after resumes can never
        leak stale keys in; a crawl that crosses the threshold
        mid-run builds it here once), appended per committed
        manifest wave after that, and every read filters `m <= d-1`
        (exactly _seen_union(store, up_to=d-1)'s visibility rule),
        so an append racing a crash is invisible until its manifest
        commits. At 10^10 keys the per-wave append is bounded by the
        wave; periodic compaction of the per-append bucket files is an
        operational task, not a correctness one."""
        spark = self.spark
        tbl = self._seen_table_name()
        if self._seen_tbl_synced is None:
            drop_catalog_table(spark, tbl)
            self._seen_tbl_synced = set()
        # sync key is (manifest wave, table): a mid-wave PARTIAL
        # manifest for wave d carries no frontier slice yet — keying
        # on the wave alone would mark it synced and skip the full
        # commit's slice. All missing slices union into ONE append
        # job (code-review r08: a resume at wave N was paying N+1
        # sequential write jobs on first use) — steady state appends
        # exactly the one new slice per wave either way.
        have = self._seen_tbl_synced
        missing = []
        fresh: list[tuple] = []
        for t in ("frontier", "warm_seen"):
            for w, info in self.store.slices(t):
                if (w, t) in have:
                    continue
                missing.append(
                    self.store.read_slices([info]).select("url_key").withColumn("m", F.lit(w))
                )
                fresh.append((w, t))
        if missing:
            (
                functools.reduce(DataFrame.unionByName, missing)
                .write.bucketBy(SEEN_BUCKETS, "url_key")
                .mode("append")
                .saveAsTable(tbl)
            )
            have.update(fresh)
        if not have:
            return None
        return spark.table(tbl).filter(F.col("m") <= F.lit(d - 1)).select("url_key")

    # ------------------------------------------------------------------

    def run(self, resume: bool = False) -> SnapshotStore:
        store = self.store
        resume_parts = None
        if resume:
            last = store.last_complete_wave()
            if last is None:
                return self.run(resume=False)
            store.truncate_after(last)
            d = last + 1
            resume_parts = store.parts(d) or None
        else:
            with self._layer(-1, "-", "seed"):
                store.stage("frontier", self._initial_frontier(), 0, manifest_wave=-1)
                # NOTE: there is no separate `seen` table — the frontier
                # slices ARE the seen-set (every URL enqueued at any depth
                # was marked seen at enqueue time, crawler.go:143-145 +
                # 240-247), so seen(d) = url_keys of frontier waves 0..d.
                # persist the warm seen-set and bits into THIS store so a
                # mid-crawl resume (which only sees the store) and any
                # further warm chaining keep the full seen history; the
                # prior's bits cover the warm seen-set (expired keys just
                # probe "maybe"), so the filter is active from wave 0
                if self._warm_seen is not None:
                    store.stage("warm_seen", self._warm_seen, 0, manifest_wave=-1)
                if self._warm_bits is not None:
                    store.stage("bloom", self._warm_bits, 0, manifest_wave=-1)
            store.commit_wave(
                -1, {"phase": "seeded", "filter_cfg": self._filter_cfg_sig()}
            )
            d = 0

        while True:
            # frontier for depth d is committed by manifest d-1; its
            # row count is already in the manifest — no isEmpty() job
            info = dict(store.slices("frontier")).get(d - 1)
            if info is None or info["rows"] == 0:
                break
            frontier = store.read_slices([info])
            t0 = time.time()
            metrics = self._run_wave(frontier, d, info["rows"], resume_parts=resume_parts)
            resume_parts = None
            metrics["seconds"] = round(time.time() - t0, 3)
            store.commit_wave(d, metrics)
            d += 1
        return store

    def _gate(self, frontier: DataFrame) -> DataFrame:
        """Robots gate: frontier ⋈ robots + the `_allowed`
        pandas-UDF column. Factored out of _run_wave so tests can
        assert on the composed wave PLAN (exactly one robots-UDF
        evaluation, bucketed fetch join) without running a crawl.

        Collected-robots fast path (r05): when the robots table fit
        under ``ROBOTS_LOCAL_THRESHOLD`` at construction, the rules
        ride a SparkContext broadcast into the gate UDF and the join
        (and its per-wave JVM broadcast build, ~0.2-0.3 s of fixed
        cost on small-wave crawls) disappears; the join remains the
        10^7-host scale path, with no broadcast hint (a forced hint
        collects the rules the join path exists to keep off the driver,
        and measured slower at 500k hosts, BENCH.md). Both paths evaluate
        the same Matcher on fetch_url and are pinned equal by
        test_robots_local_gate_equals_join_gate."""
        cfg = self.cfg
        parts = _with_url_parts(frontier)
        if self._robots_bc is not None:
            return parts.withColumn(
                "_allowed",
                _robots_allowed_local_udf(cfg.RobotsUserAgent, self._robots_bc)(
                    F.col("fetch_url"), F.col("scheme"), F.col("host")
                ),
            )
        return parts.join(
            self.robots,
            (parts["scheme"] == F.col("r_scheme")) & (parts["host"] == F.col("r_host")),
            "left",
        ).withColumn(
            "_allowed",
            # gate on fetch_url, NOT url_key: the oracle (oracle.py:181)
            # and reference (state.go:56) test the fetch/queue URL; in
            # extended canon_mode url_key has sorted query params /
            # normalized escapes, which query-sensitive robots rules
            # would match differently (ADVICE r01, medium)
            _robots_allowed_udf(cfg.RobotsUserAgent)(
                F.col("fetch_url"), F.col("robots_status"), F.col("robots_body")
            ),
        )

    def _run_wave(
        self,
        frontier: DataFrame,
        d: int,
        frontier_rows: int,
        resume_parts: list | None = None,
    ) -> dict:
        """One BFS wave: a driver over one method per layer, in wave
        order (see the module docstring). Each layer method writes its
        own lap into the returned manifest metrics, which run()
        commits with every slice staged here. A resumed wave restores
        its checkpoint's tables before the fold stages: a re-staged
        slice has new file names, so a stale bloom entry must not win."""
        metrics = {"frontier": frontier_rows}
        seen_rows = sum(
            f["rows"] for t in ("frontier", "warm_seen") for _, f in self.store.slices(t)
        )
        if resume_parts:
            self.store.restore_pending(d, resume_parts[-1]["tables"])
        slices, bits = self._beside(
            lambda: self._fetch_parse_subwaves(frontier, d, frontier_rows, resume_parts, metrics),
            lambda: self._fold_bloom(d, frontier, seen_rows, metrics),
        )
        metrics["candidates"] = metrics["enqueued"] = 0
        if d < self.cfg.MaxDepth:
            with self._layer(d, "-", "frontier"):
                self._stage_next_frontier(slices, d, seen_rows, bits, metrics)
        return metrics

    @contextlib.contextmanager
    def _layer(self, d: int, sub, name: str):
        """Run the block's Spark jobs under the job description
        ``wave=<d> sub=<sub> layer=<name>`` (``sub`` is ``-`` for a
        layer that runs once per wave), then restore the thread's
        previous description. Local properties belong to a thread: a
        callable handed to _beside runs under the description set when
        it was handed over, unless it enters a block of its own."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"wave={d} sub={sub} layer={name}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    def _beside(self, primary, secondary) -> tuple:
        """Run two independent driver-side actions from two threads and
        return both results once both are done; the primary's error is
        raised first. Each callable is wrapped on its own, so its thread
        runs under a private copy of the caller's local properties and
        tags (job group, description): a shared copy would leak one
        thread's SQL execution id into the other."""
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(f))
                for f in (primary, secondary)
            ]
        return futures[0].result(), futures[1].result()

    def _fetch_parse_subwaves(
        self,
        frontier: DataFrame,
        d: int,
        frontier_rows: int,
        resume_parts: list | None,
        metrics: dict,
    ) -> list[dict]:
        """Gate + budget and fetch + parse layers: gate the wave's
        frontier (or continue a mid-wave resume from its last
        checkpoint), then stage one results slice per politeness
        sub-wave. Returns the staged slices in sub-wave order; writes
        fetched / blocked / subwaves, the per-sub-wave wall clocks and
        the t_fetch_parse lap into ``metrics``.

        A sub-wave is ranked only when the budget can bind: its input
        row count (``rows_hint`` — the frontier manifest's rows for
        sub-wave 0, the staged pending slice's after that) is exact, so
        at or under ``per_host_budget`` no host can exceed it and the
        sub-wave runs unbudgeted — one results job, no Window, no
        pending stage. (With ``per_host_budget`` above
        HOT_HOST_SALT_THRESHOLD, a ranked sub-wave's salted slices could
        defer a row of a host that fits the budget; unranked, that row
        is fetched one sub-wave earlier. Rows are the same.)

        Single-pass everywhere (VERDICT r03 #4): gate+fetch+parse+
        blocked run as ONE job over the gated frame (pages LEFT-joined
        under the `_allowed` residual, parse map emits blocked rows
        inline); _apply_budget ranks allowed rows only and rides
        blocked rows in sub-wave 0, so each RESULTS job evaluates the
        robots UDF exactly once (plan-asserted in tests/test_engine.py).
        Precisely (ADVICE r04): unranked sub-waves and ranked sub-waves
        >0 (which read a STAGED pending slice) run one gate evaluation;
        a ranked sub-wave 0 runs two jobs over the same lazy gated
        frame — stage results (take) and stage pending_sub0 (defer) —
        so the gate join + UDF evaluate once more there. The UDF is
        deterministic, so output is unaffected; staging the ranked
        frame first would avoid the re-eval but writes robots_body per
        frontier row (a much larger write than the ~0.7 s gate
        recompute)."""
        t0 = time.time()
        budget = self.cfg.per_host_budget
        blocked = self.spark.sparkContext.accumulator(0)
        # rows_hint sizes each sub-wave's parse tasks and decides whether
        # it is ranked: sub-wave 0 knows the whole-wave count, later
        # sub-waves the deferred row count exactly (their take is a
        # subset of it) — the whole-wave hint over-provisioned parse
        # tasks on every shrinking sub-wave (scheduling C-term, VERDICT
        # r08 #2)
        if resume_parts:
            # mid-wave resume: adopt the last checkpoint's completed
            # sub-waves (_run_wave restored its tables) and continue
            # from its staged pending frontier; its blocked rows (all
            # in sub-wave 0) won't re-fire the accumulator, so their
            # count comes from its metrics
            last = resume_parts[-1]
            n = len(resume_parts)
            slices = [last["tables"][f"results_sub{k}" if k else "results"] for k in range(n)]
            pending = last["tables"][f"pending_sub{n - 1}"]
            remaining, rows_hint = self._pending_slice(pending), pending["rows"]
            blocked_offset = last["metrics"].get("blocked_so_far", 0)
        else:
            remaining, rows_hint = self._gate(frontier), frontier_rows
            slices, blocked_offset = [], 0
        # per-sub-wave wall clocks and the results-job vs pending-stage
        # split land in the wave metrics, so the scaling analysis reads
        # the sub-wave serialization term from the store
        sub_t, sub_t_pend = [], []
        while True:
            sw = len(slices)
            t_sub = time.time()
            if not budget or rows_hint <= budget:
                slices.append(self._stage_results(remaining, d, sw, rows_hint, blocked))
                sub_t.append(round(time.time() - t_sub, 2))
                break
            take, defer = self._apply_budget(remaining, budget)

            def stage_pending():
                with self._layer(d, sw, "pending"):
                    info = self.store.stage(
                        f"pending_sub{sw}", defer.select(*FRONTIER_SCHEMA.fieldNames()), d
                    )
                return info, round(time.time() - t_sub, 2)

            # OVERLAP (VERDICT r08 #2, the budgeted Amdahl term): the
            # deferred-slice write and the fetch+parse job are
            # independent actions over the same ranked lineage — run
            # them from two driver threads so the pending stage's whole
            # serial cost (Catalyst planning + job scheduling + rank
            # shuffle + write commit) rides inside the results job's
            # wall time instead of after it. Politeness is untouched:
            # sub-wave k+1's fetches still start only after BOTH
            # complete. The pending stage still gates the loop by
            # manifest row count (VERDICT r02 #6, no isEmpty job).
            info, (pending, t_pend) = self._beside(
                functools.partial(self._stage_results, take, d, sw, rows_hint, blocked),
                stage_pending,
            )
            slices.append(info)
            sub_t.append(round(time.time() - t_sub, 2))
            sub_t_pend.append(t_pend)
            if pending["rows"] == 0:
                break
            # mid-wave checkpoint: completed slices + the deferred
            # frontier survive an interruption (north_star clause)
            self.store.commit_wave(
                d,
                {"phase": "partial", "subwave": sw,
                 "blocked_so_far": blocked_offset + blocked.value},
                part=sw,
            )
            remaining, rows_hint = self._pending_slice(pending), pending["rows"]
        # the blocked count came from the accumulator inside the
        # staging jobs — no extra job, no driver-side parquet scan
        n_blocked = blocked_offset + blocked.value
        metrics["fetched"] = sum(s["rows"] for s in slices) - n_blocked
        metrics["blocked"] = n_blocked
        metrics["subwaves"] = len(slices)
        if len(sub_t) > 1:
            metrics["subwave_t"] = sub_t
        if sub_t_pend:
            metrics["subwave_t_pend"] = sub_t_pend
        metrics["t_fetch_parse"] = round(time.time() - t0, 2)
        return slices

    def _pending_slice(self, info: dict) -> DataFrame:
        """A staged deferred slice in the gated-frame shape. Every
        deferred row was robots-allowed when deferred, so `_allowed`
        is a literal and no rules lookup is needed; reading the STAGED
        slice breaks the per-sub-wave lineage chain (the lazy frame
        would re-run every prior budget window + the gate join on each
        new sub-wave)."""
        return _with_url_parts(self.store.read_slices([info])).withColumn(
            "_allowed", F.lit(True)
        )

    def _stage_results(self, take: DataFrame, d: int, sw: int, rows_hint: int, blocked) -> dict:
        """Fetch + parse one politeness sub-wave and stage its results
        slice. Sub-waves >= 1 are all robots-allowed (blocked rows
        ride sub-wave 0)."""
        parsed = self._fetch_and_parse(
            take, rows_hint=rows_hint, blocked_counter=blocked, all_allowed=sw > 0
        )
        with self._layer(d, sw, "fetch_parse"):
            return self.store.stage(f"results_sub{sw}" if sw else "results", parsed, d)

    def _stage_next_frontier(
        self, slices: list[dict], d: int, seen_rows: int, bits: DataFrame | None, metrics: dict
    ) -> None:
        """Candidates + seen read + dedup layer: the wave's staged
        results -> candidates minus the seen-set -> frontier d+1,
        staged. ``bits`` are the seen-filter bits the wave's fold
        staged (they cover the seen-set read here), or None before
        activation, when the plain anti-join runs alone. Writes
        candidates, enqueued and the t_frontier lap into ``metrics``."""
        t0 = time.time()
        cfg = self.cfg
        # re-read staged results (cheap, avoids recompute)
        results = self.store.read_slices(slices)
        cand = self._candidates(results)
        if cfg.detailed_metrics:
            cand = cand.persist()
            metrics["candidates"] = cand.count()
        # url_keys seen before wave d's candidates: the committed
        # frontier slices (manifests -1..d-1 cover depths 0..d) plus the
        # warm seen-set committed at seed time, so a resumed run
        # recovers it without warm_store. The verify-join layout follows
        # the seen size the manifests record; seen only grows within a
        # run, so a crawl switches layout at most once.
        bucketed = seen_rows >= SEEN_BUCKETED_ROWS
        seen = self._bucketed_seen(d) if bucketed else _seen_union(self.store, up_to=d - 1)
        nxt = self._dedup_against_seen(cand, seen, bits, bucketed).select(
            "url_key",
            "fetch_url",
            F.lit(d + 1).alias("depth"),
            "priority",
            F.lit(None).cast("int").alias("seed_order"),
        )
        # no explicit repartition before the write (r05): parquet
        # carries no partitioning metadata, so hash-distributing here
        # bought nothing for any later read — the candidate dedup's
        # groupBy("url_key") shuffle already spread the rows, AQE
        # coalesces its small post-shuffle partitions (few files on
        # tiny waves), and dropping the exchange saves a full
        # next-frontier shuffle per wave at EVERY scale
        info = self.store.stage("frontier", nxt, d + 1, manifest_wave=d)
        metrics["t_frontier"] = round(time.time() - t0, 2)
        if cfg.detailed_metrics:
            cand.unpersist()
        metrics["enqueued"] = info["rows"]

    def _fold_bloom(
        self, d: int, frontier: DataFrame, seen_rows: int, metrics: dict
    ) -> DataFrame | None:
        """The seen-filter fold, once per wave — the one site that
        marks bits. Wave d marks the url_keys of ``frontier`` (frontier
        d, committed in manifest d-1, so every key is new) into the
        newest committed bits, and stages the result as bits d+1 in
        manifest d: the newest bits always cover every frontier slice
        a completed wave consumed. With no bits yet, once ``seen_rows``
        (the committed frontier + warm_seen rows) reaches
        cfg.bloom_min_seen, the whole seen-set up to manifest d-1 goes
        into empty bits — the bits must cover the WHOLE seen-set, or
        seen URLs would probe definitely-new and re-fetch (code-review
        r04). Below the threshold nothing is staged: the exact
        anti-join is cheaper than the probe/mark jobs. Writes the
        fold's own wall time as t_bloom into ``metrics``; returns the
        staged bits for the wave's probe, or None."""
        t0 = time.time()
        bits = _latest_bloom_of(self.store)
        if bits is not None:
            keys = frontier.select("url_key")
        elif seen_rows >= self.cfg.bloom_min_seen:
            keys = _seen_union(self.store, up_to=d - 1)
            bits = bloomfilter.empty_bits_df(self.spark, self.bloom_cfg)
        else:
            return None
        marked = bloomfilter.mark(keys, bits, "url_key", self.bloom_cfg)
        with self._layer(d, "-", "bloom"):
            info = self.store.stage("bloom", marked, d + 1, manifest_wave=d)
        metrics["t_bloom"] = round(time.time() - t0, 2)
        return self.store.read_slices([info]).select("shard", "bits")

    def _filter_cfg_sig(self) -> dict:
        """The seen-filter layout signature recorded in the seed
        manifest: bits are only probe-compatible between runs
        whose signatures are EQUAL — shard count, size and hash count
        all change the key->bit mapping even at identical blob sizes
        (code-review r04)."""
        cfg = self.cfg
        return {
            "backend": "bloom",
            "shards": cfg.bloom_shards,
            "bits_per_shard": cfg.bloom_bits_per_shard,
            "hashes": self.bloom_cfg.n_hashes,
        }

    @staticmethod
    def _recorded_filter_sig(store: SnapshotStore) -> dict | None:
        """The newest filter-layout signature a store has committed,
        or None for stores written before signatures were recorded."""
        sigs = [m["filter_cfg"] for m in store.metrics() if m.get("filter_cfg")]
        return sigs[-1] if sigs else None

    def _check_warm_filter_layout(self, prior: SnapshotStore) -> None:
        """Fail LOUDLY on a warm start whose filter config mismatches
        the prior store's: probing prior bits under a different layout
        silently answers definitely-new for seen URLs (double fetches
        — an exactness break, not a perf bug). Every run() records the
        signature in its seed manifest, so bits without one come from a
        legacy or hand-edited store and are refused too."""
        prior_sig = self._recorded_filter_sig(prior)
        if prior_sig is None:
            raise ValueError(
                f"warm_store {prior.root} has seen-filter bits but no recorded "
                "filter layout (filter_cfg) — a legacy or hand-edited store; "
                "re-crawl it, or warm-start from a store this version wrote"
            )
        if prior_sig != self._filter_cfg_sig():
            raise ValueError(
                "warm_store seen-filter layout mismatch: prior crawl "
                f"used {prior_sig}, this config is {self._filter_cfg_sig()} "
                "— use the same bloom_* settings as the "
                "original crawl"
            )

    # ------------------------------------------------------------------

    def results(self, ordered: bool = True) -> DataFrame:
        out = self.store.read("results")
        if out is None:
            raise RuntimeError("no results staged — run() first")
        # the store's lineage columns (_wave, _part) are an
        # implementation detail — public output is the Result schema
        out = out.select(*[f.name for f in RESULT_FULL_SCHEMA.fields])
        if ordered:
            # determinism contract (SURVEY.md §7.6): refinement of the
            # reference's depth-ascending guarantee (crawler.go:197-199)
            out = out.orderBy("Depth", "Priority", "UrlKey")
        return out

    def seen(self) -> DataFrame:
        """Effective seen-set: every URL this store enqueued, plus the
        warm-started seen history, minus expired tombstones."""
        return _effective_seen_keys(self.store)

    def expire(self, url_keys) -> dict:
        """Re-crawl expiry: remove `url_keys` from this store's
        effective seen-set, so a future crawl warm-started from this
        workdir (``warm_store=...``) re-fetches them when re-linked.
        It stages ONE tombstone slice and commits it in one manifest;
        the seen-filter bits are left as they are. They stay a superset
        of the surviving keys, so the no-false-negative contract holds:
        an expired key only probes "maybe seen", and the exact verify
        join (against the seen-set minus tombstones) lets it through.
        The bits' layout is therefore not an input here — any bloom_*
        settings may run expire().

        Inputs are matched against the effective seen-set over their
        CANONICAL candidate forms (raw, canon_seed, and the extended
        key when canon_mode='extended') — an operator pasting a fetch
        URL with unsorted query params must not get a silent no-op
        tombstone (code-review r04). Only MATCHED keys are staged; the
        metrics count DISTINCT inputs and matches PER INPUT (any form
        matched) — form-level counting let one input matching two seen
        forms mask another input's silent no-op, and duplicate inputs
        fired a spurious warning (ADVICE r04). ``tombstone_rows``
        carries the staged form count separately.

        The store must be a COMPLETED crawl (ADVICE r04): on an
        interrupted store the expiry manifest would supersede the
        interrupted wave's checkpoints as last_complete_wave, so a
        later run(resume=True) finds no frontier and silently ends the
        crawl incomplete. Resume (or discard) the crawl first."""
        spark, store = self.spark, self.store
        last = store.last_complete_wave()
        if last is None:
            raise RuntimeError(
                f"expire: {self.workdir} has no committed crawl — nothing to expire"
            )
        e = last + 1
        if _interrupted(store):
            raise RuntimeError(
                f"expire: {self.workdir} holds an interrupted crawl (pending "
                f"frontier or mid-wave checkpoints for wave {e}) — an expiry "
                "manifest would supersede them and break run(resume=True). "
                "Finish the crawl with run(resume=True) first, or discard "
                "the workdir"
            )
        if isinstance(url_keys, DataFrame):
            pairs = url_keys.select(
                F.col("url_key").alias("_input"), F.col("url_key")
            ).distinct()
            requested = pairs.select("_input").distinct().count()
        else:
            extended = self.cfg.canon_mode == "extended"
            rows = []
            inputs = list(dict.fromkeys(url_keys))  # distinct, order-stable
            for raw in inputs:
                forms = {raw}
                cs = canon.canon_seed(raw)
                if cs is not None:
                    forms.add(cs)
                    if extended:
                        forms.add(canon.extended_canon(cs) or cs)
                rows.extend((raw, f) for f in sorted(forms))
            requested = len(inputs)
            pairs = spark.createDataFrame(rows, "_input: string, url_key: string")
        seen_now = _effective_seen_keys(store)
        matched = pairs
        if seen_now is not None:
            matched = pairs.join(seen_now, "url_key", "left_semi")
        matched = matched.persist()
        expired_inputs = matched.select("_input").distinct().count()
        keys = matched.select("url_key").distinct()
        info = store.stage("expired", keys, e, manifest_wave=e)
        matched.unpersist()
        metrics = {
            "phase": "expired",
            "requested": requested,
            "expired": expired_inputs,
            "tombstone_rows": info["rows"],
        }
        if expired_inputs < requested:
            import sys

            print(
                f"crawlspark: expire matched {expired_inputs} of {requested} "
                "distinct input URLs against the seen-set (unmatched inputs "
                "are not seen under any canonical form — nothing to expire)",
                file=sys.stderr,
            )
        store.commit_wave(e, metrics)
        return metrics
