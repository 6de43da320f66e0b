"""End-to-end engine tests: the Spark wave loop must exact-match the
sequential oracle on emitted row multiset, seen-set and the
(depth, priority, url) determinism contract (SURVEY.md §5, §7.6),
including the reference's 156-row BFS law (server_test.go:61-116).
"""

import json
import os

import pandas as pd
import pytest

from crawlspark import engine, oracle, testkit
from crawlspark.config import CrawlConfig
from crawlspark.engine import RESULT_FULL_SCHEMA, SparkCrawler


def _oracle_run(cfg, pages_pdf, robots_pdf):
    pages = {r["url"]: r for r in pages_pdf.to_dict("records")}
    rob = {
        (r["scheme"], r["host"]): (r["status_code"], r["body"])
        for r in robots_pdf.to_dict("records")
    }
    return oracle.crawl_oracle(cfg, pages, rob)


def _normalize_row(d: dict) -> str:
    """Canonical JSON of a result row for multiset comparison."""
    return json.dumps(d, sort_keys=True, default=str)


def _engine_rows(crawler):
    cols = [f.name for f in crawler.results().schema.fields if not f.name.startswith("_")]
    rows = []
    for r in crawler.results(ordered=True).select(*cols).collect():
        d = r.asDict(recursive=True)
        d.pop("Payload", None)
        rows.append(d)
    return rows


def _oracle_rows(results):
    rows = []
    for depth, priority, url_key, res in results:
        d = dict(res)
        d["Priority"] = priority
        d["UrlKey"] = url_key
        rows.append(d)
    return rows


def _assert_match(crawler, oracle_out):
    results, seen, _ = oracle_out
    engine_rows = _engine_rows(crawler)
    oracle_rows = _oracle_rows(results)
    assert len(engine_rows) == len(oracle_rows)
    # exact multiset match of full nested rows
    assert sorted(map(_normalize_row, engine_rows)) == sorted(map(_normalize_row, oracle_rows))
    # seen-set exact match
    engine_seen = {r["url_key"] for r in crawler.seen().collect()}
    assert engine_seen == seen
    # determinism contract: engine output is (Depth, Priority, UrlKey)-sorted
    keys = [(r["Depth"], r["Priority"], r["UrlKey"]) for r in engine_rows]
    assert keys == sorted(keys)


@pytest.fixture(scope="module")
def nice(spark, tmp_path_factory):
    pages_pdf, robots_pdf, seeds = testkit.nice_site()
    cfg = CrawlConfig(From=seeds, MaxDepth=3, RespectNofollow=True, Connections=20)
    crawler = SparkCrawler(
        spark,
        cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path_factory.mktemp("nice")),
    )
    crawler.run()
    return crawler, _oracle_run(cfg, pages_pdf, robots_pdf)


def test_156_row_law(nice):
    crawler, (results, seen, _) = nice
    # 1 + 5 + 25 + 125 followed children (server_test.go:52-59)
    assert crawler.results().count() == 156
    assert len(results) == 156


def test_nice_site_exact_match(nice):
    crawler, oracle_out = nice
    _assert_match(crawler, oracle_out)


def test_metrics_recorded(nice):
    crawler, _ = nice
    metrics = {m["wave"]: m for m in crawler.store.metrics() if m["wave"] >= 0}
    assert metrics[0]["fetched"] == 1
    assert metrics[1]["fetched"] == 5
    assert metrics[2]["fetched"] == 25
    assert metrics[3]["fetched"] == 125
    assert metrics[2]["enqueued"] == 125
    # per-partition lineage present in manifests
    man = crawler.store._manifests()[-1]
    info = man["tables"]["results"]
    assert info["rows"] > 0 and info["partitions"]


@pytest.fixture(scope="module")
def matrix(spark, tmp_path_factory):
    pages_pdf, robots_pdf, seeds = testkit.matrix_site()
    # the crawled trio img-0001..3 spans the codec matrix: qjpg
    # (lossy stand-in), webp (real lossless VP8L, r06), jpeg (real
    # baseline JFIF, r05) — the payload invariant runs on all three
    images_pdf = testkit.make_images(8, jpeg_every=3, webp_every=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=3, RespectNofollow=False)
    crawler = SparkCrawler(
        spark,
        cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        images_df=testkit.images_to_spark(spark, images_pdf),
        workdir=str(tmp_path_factory.mktemp("matrix")),
    )
    crawler.run()
    return crawler, _oracle_run(cfg, pages_pdf, robots_pdf)


def test_matrix_exact_match(matrix):
    crawler, oracle_out = matrix
    _assert_match(crawler, oracle_out)


def test_matrix_blocked_and_redirects(matrix):
    crawler, (results, _, _) = matrix
    df = crawler.results()
    blocked = df.filter(df.Status == "Blocked by robots.txt")
    assert blocked.count() == sum(
        1 for *_, r in results if r["Status"] == "Blocked by robots.txt"
    )
    # redirect targets entered the frontier (priority 1 rows exist)
    assert df.filter(df.Priority == 1).count() >= 2


def test_matrix_payload_invariant(matrix):
    """input_hint: decoded-pixel PSNR>=40dB + caption equality —
    across the full codec matrix (qjpg / real webp / real jpeg)."""
    crawler, _ = matrix
    from crawlspark import imagecodec

    rows = crawler.results().filter("Payload IS NOT NULL").collect()
    assert len(rows) == 3  # img/1..3 linked from root
    assert {r["Payload"]["Fmt"] for r in rows} == {"qjpg", "webp", "jpeg"}
    for r in rows:
        p = r["Payload"]
        assert p["PixelsOk"] is True
        assert p["Psnr"] >= 40.0
        if p["Fmt"] == "webp":  # lossless -> exact, PSNR infinite
            assert p["Psnr"] == float("inf")
        assert p["Caption"] == imagecodec.caption_for(p["ImageId"])


def test_duplicate_seeds_fetched_twice(matrix):
    crawler, _ = matrix
    df = crawler.results()
    # two identical seeds + one fragment seed -> 3 depth-0 rows,
    # all with the same fragmentless Address.Full (crawler.go:26-41)
    d0 = df.filter("Depth = 0").collect()
    assert len(d0) == 3
    assert {r["Address"]["Full"] for r in d0} == {"http://site-0.test/"}
    assert sorted(r["UrlKey"] for r in d0) == [
        "http://site-0.test/",
        "http://site-0.test/",
        "http://site-0.test/#frag",
    ]


def test_resume_mid_crawl(spark, tmp_path):
    """Kill after wave 1, resume: outputs identical to uninterrupted
    (north_rule resumability clause)."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True)

    full = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "full"),
    )
    full.run()

    class Interrupted(Exception):
        pass

    part = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "part"),
    )
    orig = part._run_wave

    def boom(frontier, d, *args, **kwargs):
        if d >= 2:
            raise Interrupted()
        return orig(frontier, d, *args, **kwargs)

    part._run_wave = boom
    with pytest.raises(Interrupted):
        part.run()
    # simulate partial uncommitted wave-2 data left behind: resume
    part2 = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "part"),
    )
    part2.run(resume=True)

    a = [tuple(r) for r in full.results().select("Depth", "Priority", "UrlKey").collect()]
    b = [tuple(r) for r in part2.results().select("Depth", "Priority", "UrlKey").collect()]
    assert a == b
    assert {r["url_key"] for r in full.seen().collect()} == {
        r["url_key"] for r in part2.seen().collect()
    }


def test_budget_defer_preserves_sets(spark, tmp_path, monkeypatch):
    """per-host politeness budget defers, never drops: same emitted
    multiset + seen-set as unbudgeted (SURVEY.md §7.3), with the
    hot-host salt-split active."""
    monkeypatch.setattr(engine, "HOT_HOST_SALT_THRESHOLD", 5)
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      per_host_budget=3)
    crawler = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "budget"),
    )
    crawler.run()
    _assert_match(crawler, _oracle_run(cfg, pages_pdf, robots_pdf))
    # budget actually split waves: wave 1 has 2 followed children -> 1 subwave,
    # wave 2 has 4 -> at least 2 subwaves
    metrics = {m["wave"]: m for m in crawler.store.metrics() if m["wave"] >= 0}
    assert metrics[2]["subwaves"] >= 2
    # the per-layer laps and sub-wave clocks the benchmark's traced run
    # reads (perfbench fails a run that misses one)
    for d, m in metrics.items():
        assert "t_fetch_parse" in m, (d, m)
        if d < cfg.MaxDepth:
            assert "t_frontier" in m, (d, m)
    assert len(metrics[2]["subwave_t"]) == metrics[2]["subwaves"], metrics[2]
    # one pending-stage clock per staged pending slice: only a sub-wave
    # with more rows than the budget is ranked and stages one, so the
    # last sub-wave's input (the last pending slice) fits the budget
    wave2 = next(m for m in crawler.store._manifests() if m["wave"] == 2)
    n_pending = sum(t.startswith("pending_sub") for t in wave2["tables"])
    assert n_pending == metrics[2]["subwaves"] - 1, wave2["tables"]
    pending = [wave2["tables"][f"pending_sub{k}"] for k in range(n_pending)]
    assert len(metrics[2]["subwave_t_pend"]) == len(pending), metrics[2]
    assert 0 < pending[-1]["rows"] <= cfg.per_host_budget, pending


def test_budget_iterative_contract(spark, tmp_path, monkeypatch):
    """The iterative politeness loop keeps its
    contract with the hot-host salt-split active: per (host,
    sub-wave) allowed take <= ceil(B / n_slices) * n_slices (the
    documented approximate per-host bound, n_slices sized from the
    host's remaining rows), blocked rows only in sub-wave 0, every
    row taken exactly once, and no empty sub-wave before the deferred
    set drains (sub-wave indexes contiguous from 0)."""
    import math

    from pyspark.sql import functions as F

    B, THRESH = 3, 10
    monkeypatch.setattr(engine, "HOT_HOST_SALT_THRESHOLD", THRESH)
    hosts = {"hot.test": 25, "warm.test": 7, "cold.test": 2}
    cfg = CrawlConfig(From=["http://hot.test/"], MaxDepth=1, per_host_budget=B)
    crawler = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, testkit.nice_site()[0]),
        testkit.robots_to_spark(spark, testkit.nice_site()[1]),
        workdir=str(tmp_path / "iterative"),
    )
    # cold.test is robots-blocked entirely: its rows ride sub-wave 0 free
    schema = "url_key string, host string, priority int, _allowed boolean"
    rows = [
        (f"http://{h}/p{i:03d}", h, 2, h != "cold.test")
        for h, n in hosts.items() for i in range(n)
    ]
    remaining, subwave, taken = spark.createDataFrame(rows, schema), 0, []
    while True:
        host_n = {
            r["host"]: r["n"]
            for r in remaining.groupBy("host").agg(F.count("*").alias("n")).collect()
        }
        take, defer = crawler._apply_budget(remaining, B)
        take_rows = take.select("url_key", "host", "_allowed").collect()
        assert take_rows, f"empty sub-wave {subwave} before the drain"
        for h, n in host_n.items():
            n_slices = max(1, math.ceil(n / THRESH))
            got = sum(1 for r in take_rows if r["host"] == h and r["_allowed"])
            assert got <= math.ceil(B / n_slices) * n_slices, (subwave, h, got)
        n_blocked = sum(1 for r in take_rows if not r["_allowed"])
        assert n_blocked == (hosts["cold.test"] if subwave == 0 else 0)
        taken += [r["url_key"] for r in take_rows]
        # re-materialize the deferred slice, as the engine's per-sub-wave
        # pending stage does
        defer_rows = defer.select("url_key", "host", "priority", "_allowed").collect()
        if not defer_rows:
            break
        remaining = spark.createDataFrame(defer_rows, schema)
        subwave += 1
        assert subwave < 100, "budget failed to drain"
    assert sorted(taken) == sorted(r[0] for r in rows)  # each row exactly once
    assert subwave > 0  # the budget actually split the hot host


def test_duplicate_pages_rows_emit_one_blocked_result(spark, tmp_path):
    """Single-pass mode LEFT-joins blocked frontier rows against the
    pages corpus with `_allowed` as a join residual, so a duplicate
    `url` in pages emits exactly ONE blocked Result — same as the
    budget path, which never joins blocked rows at all (ADVICE r02)."""
    import pandas as pd

    from crawlspark import testkit as tk

    rows = [
        tk.page_row("site-d.test", "", branching=0, extra_links=[("/a", "a")]),
        tk.page_row("site-d.test", "a", branching=0),
        tk.page_row("site-d.test", "a", branching=0),  # duplicate url
    ]
    pages_pdf = pd.DataFrame(rows)
    robots_pdf = pd.DataFrame(
        [{"host": "site-d.test", "scheme": "http", "status_code": 200,
          "body": "User-agent: *\nDisallow: /a\n"}]
    )
    for name, extra in (("nobudget", {}), ("budget", {"per_host_budget": 5})):
        cfg = CrawlConfig(From=["http://site-d.test/"], MaxDepth=1, **extra)
        crawler = SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / f"duppages-{name}"),
        )
        crawler.run()
        blocked = crawler.results().filter(
            "Status = 'Blocked by robots.txt'"
        ).collect()
        assert len(blocked) == 1, (name, blocked)
        assert blocked[0]["Address"]["Full"] == "http://site-d.test/a"


def test_scope_include_exclude(spark, tmp_path):
    pages_pdf, robots_pdf, seeds = testkit.matrix_site()
    cfg = CrawlConfig(
        From=seeds, MaxDepth=2,
        Include=[r"^http://site-0\.test/.*"],
        Exclude=[r"redir"],
    )
    crawler = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "scope"),
    )
    crawler.run()
    out = _oracle_run(cfg, pages_pdf, robots_pdf)
    _assert_match(crawler, out)
    hosts = {r["Address"]["Host"] for r in crawler.results().select("Address").collect()}
    assert hosts == {"site-0.test"}


def test_extended_canon_mode(spark, tmp_path):
    """north_rule production canonicalization: '?b=2&a=1' and
    '?a=1&b=2' collapse to one seen key in extended mode (engine and
    oracle agree); go-parity keeps them distinct."""
    from crawlspark import testkit as tk

    rows = [
        tk.page_row("site-9.test", "", branching=0, extra_links=[
            ("/q?b=2&a=1", "query order 1"),
            ("/q?a=1&b=2", "query order 2"),
            ("http://SITE-9.test/upper", "upper host"),
            ("/upper", "lower host"),
        ]),
        tk.page_row("site-9.test", "q?b=2&a=1", branching=0),
        tk.page_row("site-9.test", "q?a=1&b=2", branching=0),
        tk.page_row("site-9.test", "upper", branching=0),
    ]
    import pandas as pd

    pages_pdf = pd.DataFrame(rows)
    robots_pdf = pd.DataFrame(
        [{"host": "site-9.test", "scheme": "http", "status_code": 200,
          "body": "User-agent: *\nAllow: /\n"}]
    )
    seeds = ["http://site-9.test/"]

    # go-parity: 4 depth-1 rows — both query orders fetched separately,
    # /upper fetched, and http://SITE-9.test/upper kept as a DISTINCT
    # host whose robots is unreachable -> blocked row (crawler.go:281).
    # extended: query orders collapse AND the uppercase host folds into
    # site-9.test -> just {q, upper} = 2 rows.
    for mode, expected_d1 in (("extended", 2), ("go-parity", 4)):
        cfg = CrawlConfig(From=seeds, MaxDepth=1, canon_mode=mode)
        crawler = SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / f"ext-{mode}"),
        )
        crawler.run()
        d1 = crawler.results().filter("Depth = 1").count()
        # go-parity: {q?b=2&a=1, q?a=1&b=2, upper} = 3 fetches
        # (http://SITE-9.test/upper parses but SITE-9 host has no
        # robots/pages entry under exact-host semantics... it is the
        # same host case-insensitively -> extended collapses it)
        assert d1 == expected_d1, (mode, d1)
        _assert_match(crawler, _oracle_run(cfg, pages_pdf, robots_pdf))


def test_extended_mode_robots_gate_on_fetch_url(spark, tmp_path):
    """The robots gate must evaluate the FETCH url, not the canonical
    url_key (oracle.py:181 / reference state.go:56): in extended mode
    the key has sorted query params, so a query-sensitive Disallow
    would otherwise allow what the reference blocks (ADVICE r01)."""
    import pandas as pd

    from crawlspark import testkit as tk

    rows = [
        tk.page_row("site-r.test", "", branching=0, extra_links=[("/q?b=2&a=1", "q")]),
        tk.page_row("site-r.test", "q?b=2&a=1", branching=0),
    ]
    pages_pdf = pd.DataFrame(rows)
    robots_pdf = pd.DataFrame(
        [{"host": "site-r.test", "scheme": "http", "status_code": 200,
          "body": "User-agent: *\nDisallow: /q?b=2\n"}]
    )
    cfg = CrawlConfig(From=["http://site-r.test/"], MaxDepth=1, canon_mode="extended")
    crawler = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "ext-robots"),
    )
    crawler.run()
    d1 = crawler.results().filter("Depth = 1").collect()
    # the discovered URL /q?b=2&a=1 (extended key .../q?a=1&b=2) must
    # be BLOCKED: the rule matches the fetch url, not the sorted key
    assert len(d1) == 1 and d1[0]["Status"] == "Blocked by robots.txt"
    _assert_match(crawler, _oracle_run(cfg, pages_pdf, robots_pdf))


def test_request_headers_reach_fetch_interface(spark, tmp_path):
    """Config Header pairs (sent on every fetch by the reference,
    crawler.go:298-310) must reach the fetch boundary as per-row
    passthrough columns — a production HTTP fetcher swapped in at
    _fetch_join consumes them."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    cfg = CrawlConfig(
        From=seeds, MaxDepth=0,
        Header=[{"K": "X-Team", "V": "crawl"}, {"K": "Accept", "V": "text/html"}],
    )
    crawler = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "hdrs"),
    )
    joined = crawler._fetch_join(crawler._gate(crawler._initial_frontier()))
    assert "_req_headers" in joined.columns
    got = joined.select("_req_headers").first()[0]
    assert [(p["K"], p["V"]) for p in got] == [("X-Team", "crawl"), ("Accept", "text/html")]
    # headers are request-side only: emitted results are unchanged
    crawler.run()
    _assert_match(crawler, _oracle_run(cfg, pages_pdf, robots_pdf))


def test_results_hide_lineage_columns(nice):
    """results() is the public Result surface — the snapshot store's
    _wave/_part lineage columns must not leak (ADVICE r01)."""
    crawler, _ = nice
    assert not [c for c in crawler.results().columns if c.startswith("_")]


def test_bloom_prefilter_correctness(spark, tmp_path):
    """Bloom on vs off vs lazily-activated: identical emitted rows and
    seen-set (the prefilter is a shuffle optimization, never a
    correctness input). 'lazy' crosses bloom_min_seen mid-crawl, so it
    exercises the one-time backfill activation path."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    outs = {}
    # min_seen=0 -> bloom from wave 0; 3 -> activates at wave 1 (wave 0
    # counts 1 seen row, wave 1 1+4=5); huge -> never activates
    for mode, min_seen in (("on", 0), ("lazy", 3), ("off", 10**12)):
        cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                          bloom_shards=4, bloom_min_seen=min_seen,
                          bloom_bits_per_shard=1 << 12)  # tiny shards -> real FPs
        c = SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / f"bloom-{mode}"),
        )
        c.run()
        if mode == "on":
            assert c.store.slices("bloom"), "min_seen=0 must mark bits from wave 0"
            # every wave folds the frontier it consumes and laps it
            for m in c.store.metrics():
                if m["wave"] >= 0:
                    assert "t_bloom" in m, m
        if mode == "lazy":
            assert c.store.slices("bloom"), "backfill activation must have fired"
        if mode == "off":
            assert not c.store.slices("bloom"), "an unreached min_seen never marks bits"
        outs[mode] = (
            sorted(tuple(r) for r in c.results().select("Depth", "Priority", "UrlKey").collect()),
            {r["url_key"] for r in c.seen().collect()},
        )
    assert outs["on"] == outs["off"] == outs["lazy"]


def test_seen_layout_bucketed_equality(spark, tmp_path, monkeypatch):
    """The bucketed seen layout (catalog table of seen keys bucketed
    on url_key, appended per wave, shuffled-hash semi verify join —
    the VERDICT r07 #2 layout change) emits identical rows and
    seen-set to the slice layout, and both match the oracle. The
    engine picks the layout by seen size (engine.SEEN_BUCKETED_ROWS),
    pinned here: bucketed from wave 0 with the prefilter active (tiny
    shards -> real false positives) AND with it off (the plain
    anti-join path also reroutes through the bucketed table), and a
    threshold first crossed at wave 1 (the mid-crawl switch builds
    the table from the committed slices)."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    outs = {}
    for tag, threshold, min_seen, bucketed_waves in (
        ("slices", 10**18, 0, []),
        ("bucketed", 0, 0, [0, 1]),
        ("bucketed-nofilter", 0, 10**12, [0, 1]),
        # wave 0 sees the seed rows alone, wave 1 seeds + enqueued
        ("switch", len(seeds) + 1, 0, [1]),
    ):
        monkeypatch.setattr(engine, "SEEN_BUCKETED_ROWS", threshold)
        cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                          bloom_shards=4, bloom_min_seen=min_seen,
                          bloom_bits_per_shard=1 << 12)
        c = SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / f"layout-{tag}"),
        )
        waves = []
        build = c._bucketed_seen

        def spy(d, build=build, waves=waves):
            waves.append(d)
            return build(d)

        c._bucketed_seen = spy
        c.run()
        assert waves == bucketed_waves, (tag, waves)
        assert bool(c.store.slices("bloom")) == (tag != "bucketed-nofilter"), tag
        _assert_match(c, _oracle_run(cfg, pages_pdf, robots_pdf))
        outs[tag] = (
            sorted(tuple(r) for r in c.results().select("Depth", "Priority", "UrlKey").collect()),
            {r["url_key"] for r in c.seen().collect()},
        )
    for tag in ("bucketed", "bucketed-nofilter", "switch"):
        assert outs[tag] == outs["slices"], tag


def test_seen_layout_bucketed_plan(spark, tmp_path, monkeypatch):
    """The bucketed verify join's plan: the seen side reads the
    bucketed table scan with NO Exchange above it (Bucketed: true
    satisfies the ShuffledHashJoin's distribution requirement), so
    only the wave-bounded side shuffles — the property that makes the
    join flat in seen size (seen_scan_bench part A)."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    monkeypatch.setattr(engine, "SEEN_BUCKETED_ROWS", 0)
    cfg = CrawlConfig(From=seeds, MaxDepth=1, RespectNofollow=True,
                      bloom_min_seen=10**12)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "layout-plan"),
    )
    c.run()
    assert not c.store.slices("bloom")
    seen = c._bucketed_seen(2)
    assert seen is not None
    cand = spark.createDataFrame(
        [("https://a.test/x", 1)], "url_key string, priority int"
    )
    txt = (
        c._dedup_against_seen(cand, seen, None, bucketed=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in txt, txt
    assert "Bucketed: true" in txt, txt
    # tree print order is stream (left) leg first: everything between
    # the semi join line and the seen table's FileScan line belongs to
    # the seen leg — it must contain NO Exchange (the bucketed scan
    # satisfies the join's distribution requirement as-is; only the
    # wave-bounded side shuffles, after the scan line)
    join_at = txt.index("ShuffledHashJoin")
    scan_at = txt.index("Scan parquet", join_at)
    assert c._seen_table_name() in txt[scan_at : scan_at + 200], txt
    assert "Exchange" not in txt[join_at:scan_at], txt


def test_expire_then_warm_recrawl_reemits_once(spark, tmp_path):
    """Re-crawl expiry (ADVICE r03 #4): expire() shrinks the exact
    seen-set with one tombstone commit and leaves the seen-filter bits
    as they are (a superset of the survivors: with tiny shards the
    victim still probes "maybe seen" and the exact verify join lets it
    through); a warm-started crawl
    (warm_store=prior workdir) re-fetches the expired URL exactly
    once when it is re-linked, skips every other previously-seen URL,
    and never double-emits anything."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=3, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      bloom_shards=4, bloom_min_seen=0,
                      bloom_bits_per_shard=1 << 12)
    c1 = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "gen1"),
    )
    c1.run()
    # expire one depth-1 URL (a direct child of a seed)
    victim = c1.results().filter("Depth = 1").select("UrlKey").first()[0]
    bloom_dir = tmp_path / "gen1" / "bloom"
    blooms = c1.store.slices("bloom")
    staged = sorted(p.name for p in bloom_dir.iterdir())
    m = c1.expire([victim])
    assert m["expired"] == 1
    # expire() stages no bits: the newest bloom slice and its files
    # are the crawl's own
    assert c1.store.slices("bloom") == blooms
    assert sorted(p.name for p in bloom_dir.iterdir()) == staged
    assert victim not in {r["url_key"] for r in c1.seen().collect()}

    c2 = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "gen2"),
        warm_store=str(tmp_path / "gen1"),
    )
    c2.run()
    emitted = [r["UrlKey"] for r in c2.results().collect()]
    # seeds always re-fetch; the expired URL re-emits EXACTLY once;
    # everything else is warm-seen and skipped
    assert emitted.count(victim) == 1, emitted
    assert sorted(emitted) == sorted(list(seeds) + [victim]), emitted

    # the prior store's bits are copied into the new store at seeding,
    # even when bloom_min_seen is above the seen count: wave 0 folds its
    # seeds into them, so the filter is active from wave 0
    cfg_hi = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                         bloom_shards=4, bloom_min_seen=10**12,
                         bloom_bits_per_shard=1 << 12)
    c4 = SparkCrawler(
        spark, cfg_hi,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "gen4"),
        warm_store=str(tmp_path / "gen1"),
    )
    c4.run()
    assert c4.store.slices("bloom")
    assert sorted(r["UrlKey"] for r in c4.results().collect()) == sorted(emitted)

    # control: without expiry the warm re-crawl emits only seeds
    c3 = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "gen3"),
        warm_store=str(tmp_path / "gen2"),
    )
    # gen2's store has no expiry; warm from it plus gen1? keep it
    # simple: warm from gen2 — seeds and victim are its seen-set,
    # so only seeds re-emit
    c3.run()
    emitted3 = sorted(r["UrlKey"] for r in c3.results().collect())
    assert emitted3 == sorted(seeds), emitted3


def test_expire_corner_cases(spark, tmp_path):
    """Expire-everything: a warm re-crawl re-fetches the full site
    (tombstoned seen-set; the unchanged bits send every key to the
    exact verify join). Expire-nothing
    (an unmatched URL): metrics report 0 expired and the warm crawl
    emits only seeds. Non-canonical input: a fetch URL with unsorted
    query params still matches its extended seen key."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      bloom_min_seen=0,
                      bloom_shards=4, bloom_bits_per_shard=1 << 12)
    g1 = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "x1"),
    )
    g1.run()
    n_full = g1.results().count()
    all_keys = [r["url_key"] for r in g1.seen().collect()]

    # expire an unmatched URL first: 0 expired, warm crawl = seeds only
    m0 = g1.expire(["http://never-crawled.test/nope"])
    assert m0["expired"] == 0 and m0["requested"] == 1
    w_none = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "xw0"), warm_store=str(tmp_path / "x1"),
    )
    w_none.run()
    assert sorted(r["UrlKey"] for r in w_none.results().collect()) == sorted(seeds)

    # expire EVERYTHING: warm crawl reproduces the full original site
    m = g1.expire(all_keys)
    assert m["expired"] == len(all_keys)
    w_all = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "xw1"), warm_store=str(tmp_path / "x1"),
    )
    w_all.run()
    a = sorted(tuple(r) for r in g1.results().select("Depth", "Priority", "UrlKey").collect())
    b = sorted(tuple(r) for r in w_all.results().select("Depth", "Priority", "UrlKey").collect())
    assert len(b) == n_full and a == b


def test_warm_store_filter_layout_mismatch_rejected(spark, tmp_path):
    """A warm re-crawl with different seen-filter settings must fail
    LOUDLY at construction: probing prior bits under a mismatched
    layout would silently answer definitely-new for seen URLs and
    double-fetch them (an exactness break, not a perf bug)."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    cfg1 = CrawlConfig(From=seeds, MaxDepth=1,
                       bloom_min_seen=0, bloom_shards=4,
                       bloom_bits_per_shard=1 << 12)
    g1 = SparkCrawler(
        spark, cfg1,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "wg1"),
    )
    g1.run()
    cfg2 = CrawlConfig(From=seeds, MaxDepth=1,
                       bloom_min_seen=0, bloom_shards=4,
                       bloom_bits_per_shard=1 << 14)  # different layout
    with pytest.raises(ValueError, match="layout mismatch"):
        SparkCrawler(
            spark, cfg2,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / "wg2"), warm_store=str(tmp_path / "wg1"),
        )

    # the exact signature existing bloom stores recorded: any change
    # would make every one of them fail to warm-start and expire()
    assert g1._filter_cfg_sig() == {
        "backend": "bloom", "shards": 4, "bits_per_shard": 1 << 12, "hashes": 5,
    }
    default = SparkCrawler(
        spark, CrawlConfig(From=seeds),
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "wgd"),
    )
    assert default._filter_cfg_sig() == {
        "backend": "bloom", "shards": 32, "bits_per_shard": 1 << 20, "hashes": 5,
    }

    # a store whose recorded backend is not bloom (the removed
    # deletion-capable backend) fails loudly, even at matching sizes
    mdir = tmp_path / "wg1" / "_manifests"
    for path in mdir.iterdir():
        man = json.loads(path.read_text())
        if man.get("metrics", {}).get("filter_cfg"):
            man["metrics"]["filter_cfg"]["backend"] = "cuckoo"
            path.write_text(json.dumps(man))
    with pytest.raises(ValueError, match="layout mismatch"):
        SparkCrawler(
            spark, cfg1,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / "wg3"), warm_store=str(tmp_path / "wg1"),
        )

    # bits without any recorded layout (a legacy or hand-edited store):
    # refused by name, not guessed from the blob size
    for path in mdir.iterdir():
        man = json.loads(path.read_text())
        if man.get("metrics", {}).pop("filter_cfg", None) is not None:
            path.write_text(json.dumps(man))
    with pytest.raises(ValueError, match="no recorded filter layout") as exc:
        SparkCrawler(
            spark, cfg1,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / "wg4"), warm_store=str(tmp_path / "wg1"),
        )
    assert str(tmp_path / "wg1") in str(exc.value)


def test_expire_guards_and_metrics(spark, tmp_path):
    """ADVICE r04 hardening: expire() refuses an empty store and an
    interrupted crawl (its manifest would supersede the mid-wave
    checkpoints and break resume). It never touches the seen-filter
    bits, so other bloom_* settings may run it: it stages no bits and
    the store still warm-starts under its original settings. Metrics
    count DISTINCT inputs, matched per input."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=1,
                      bloom_min_seen=0, bloom_shards=4,
                      bloom_bits_per_shard=1 << 12)

    def crawler(wd, c=cfg):
        return SparkCrawler(
            spark, c,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / wd),
        )

    # empty store: nothing to expire
    with pytest.raises(RuntimeError, match="no committed crawl"):
        crawler("empty").expire(seeds)

    # interrupted store: wave 0 committed (frontier for wave 1 staged,
    # rows > 0), wave 1 never ran — expire must refuse, because its
    # manifest would become last_complete_wave and resume would find
    # no frontier beyond it
    class Interrupted(Exception):
        pass

    cfg2 = CrawlConfig(From=seeds, MaxDepth=2,
                       bloom_min_seen=0, bloom_shards=4,
                       bloom_bits_per_shard=1 << 12)
    part = crawler("interrupted", cfg2)
    orig = part._run_wave

    def boom(frontier, d, *a, **k):
        if d == 1:
            raise Interrupted()
        return orig(frontier, d, *a, **k)

    part._run_wave = boom
    with pytest.raises(Interrupted):
        part.run()
    with pytest.raises(RuntimeError, match="interrupted"):
        part.expire(seeds)
    # ...and after finishing the crawl, expire works again
    part2 = crawler("interrupted", cfg2)
    part2.run(resume=True)
    assert part2.expire([seeds[0]])["expired"] == 1

    # completed store: duplicate inputs count once (no spurious
    # under-match warning), unmatched inputs are visible per input
    done = crawler("done")
    done.run()
    victim = done.results().filter("Depth = 1").select("UrlKey").first()[0]
    m = done.expire([victim, victim, "http://never-crawled.test/nope"])
    assert m["requested"] == 2 and m["expired"] == 1
    assert m["tombstone_rows"] >= 1

    # other bloom_* settings on the SAME store: expire succeeds, stages
    # no bits and records no layout, so the store keeps warm-starting
    # under the settings it was crawled with
    cfg_other = CrawlConfig(From=seeds, MaxDepth=1,
                            bloom_min_seen=0, bloom_shards=4,
                            bloom_bits_per_shard=1 << 14)
    other = SparkCrawler(
        spark, cfg_other,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "done"),
    )
    blooms = done.store.slices("bloom")
    m2 = other.expire([seeds[0]])
    assert m2["expired"] == 1 and "filter_cfg" not in m2
    assert done.store.slices("bloom") == blooms
    warm = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "done-warm"), warm_store=str(tmp_path / "done"),
    )
    warm.run()
    emitted = sorted(r["UrlKey"] for r in warm.results().collect())
    assert emitted == sorted(set(seeds) | {victim}), emitted


def test_warm_recrawl_midwave_resume(spark, tmp_path):
    """The warm seen-set must survive a mid-wave interruption WITHOUT
    re-passing warm_store: it is committed into the new store at seed
    time, so run(resume=True) on a fresh crawler recovers it — an
    interrupted warm re-crawl that forgot its warm history would
    re-fetch previously-seen URLs and break the exactly-once law."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    cfg1 = CrawlConfig(From=seeds, MaxDepth=1, RespectNofollow=True)
    g1 = SparkCrawler(
        spark, cfg1,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "g1"),
    )
    g1.run()
    victims = [r["UrlKey"] for r in g1.results().filter("Depth = 1").limit(2).collect()]
    g1.expire(victims)

    # uninterrupted warm re-crawl, deeper + budgeted: the mid-wave
    # resume below must recompute the identical takes
    cfg2 = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                       per_host_budget=2)
    full = SparkCrawler(
        spark, cfg2,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "full"), warm_store=str(tmp_path / "g1"),
    )
    full.run()

    class Interrupted(Exception):
        pass

    part = SparkCrawler(
        spark, cfg2,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "part"), warm_store=str(tmp_path / "g1"),
    )
    orig = part._fetch_and_parse
    manifests = tmp_path / "part" / "_manifests"
    fired = {}

    def boom(*a, **k):
        # interrupt the first fetch after a mid-wave checkpoint (a full
        # wave commit removes its part manifests, so one on disk means
        # the wave is still open): the resume starts from that part
        parts = sorted(p.name for p in manifests.glob("wave-*.part*.json"))
        if parts:
            fired["parts"] = parts
            raise Interrupted()
        return orig(*a, **k)

    part._fetch_and_parse = boom
    with pytest.raises(Interrupted):
        part.run()
    assert fired.get("parts"), "the interrupt must fire mid-wave"

    # resume with a FRESH crawler and no warm_store argument
    part2 = SparkCrawler(
        spark, cfg2,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "part"),
    )
    part2.run(resume=True)

    a = sorted(tuple(r) for r in full.results().select("Depth", "Priority", "UrlKey").collect())
    b = sorted(tuple(r) for r in part2.results().select("Depth", "Priority", "UrlKey").collect())
    assert a == b
    emitted = [r["UrlKey"] for r in part2.results().collect()]
    for v in victims:
        assert emitted.count(v) == 1, (v, emitted)


def test_bloom_filter_unit(spark):
    """Bloom filter semantics on mark/probe: no false negatives after
    mark, most unseen keys miss at low fill, state is deterministic,
    and folding a delta into marked bits equals a one-shot backfill of
    the union (the engine's active-path fold and its activation
    backfill rely on this equality)."""
    from crawlspark import bloomfilter as bf

    cfg = bf.BloomConfig(n_shards=4, bits_per_shard=1 << 14)
    urls = spark.createDataFrame(
        [(f"http://h{i}.test/p{i}",) for i in range(300)], "url_key string"
    )
    bits = bf.mark(urls, bf.empty_bits_df(spark, cfg), "url_key", cfg)
    probed = bf.probe(urls, bits, "url_key", cfg)
    assert probed.filter("NOT _maybe_seen").count() == 0  # no false negatives

    # unseen urls: mostly definite misses (~75 keys per 16k-bit shard)
    other = spark.createDataFrame(
        [(f"http://other{i}.test/x",) for i in range(300)], "url_key string"
    )
    miss = bf.probe(other, bits, "url_key", cfg).filter("NOT _maybe_seen").count()
    assert miss >= 290, miss

    def shard_bytes(df):
        return {r["shard"]: r["bits"] for r in df.collect()}

    # determinism: same input -> identical shard bytes
    again = bf.mark(urls, bf.empty_bits_df(spark, cfg), "url_key", cfg)
    assert shard_bytes(again) == shard_bytes(bits)

    # delta fold == one-shot backfill, per shard
    a_urls = urls.filter("url_key < 'http://h5'")
    b_urls = urls.subtract(a_urls)
    folded = bf.mark(
        b_urls, bf.mark(a_urls, bf.empty_bits_df(spark, cfg), "url_key", cfg),
        "url_key", cfg,
    )
    oneshot = bf.mark(
        a_urls.unionByName(b_urls), bf.empty_bits_df(spark, cfg), "url_key", cfg
    )
    fb = shard_bytes(folded)
    assert sorted(fb) == list(range(cfg.n_shards))
    assert fb == shard_bytes(oneshot)
    assert fb == shard_bytes(bits)


def test_snapshot_store_typed_reads(spark, tmp_path):
    """SnapshotStore lists and reads committed slices itself: staged
    slices stay invisible until commit_wave, sub-wave slices list
    under their table in wave order, and read_slices takes the schema
    from the file footer — the same schema Spark's inference finds,
    without the inference job. A parquet file not written by stage()
    fails loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from crawlspark import bloomfilter as bf
    from crawlspark.schema import FRONTIER_SCHEMA
    from crawlspark.store import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "store"))
    frontier = spark.createDataFrame(
        [("http://a.test/", "http://a.test/", 0, 0, 0)], FRONTIER_SCHEMA
    )
    fr = store.stage("frontier", frontier, 0, manifest_wave=-1)
    assert store.slices("frontier") == [] and store.read("frontier") is None
    store.commit_wave(-1)
    assert store.slices("frontier") == [(-1, fr)]
    assert store.read("frontier").count() == 1

    results = spark.range(3).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in RESULT_FULL_SCHEMA.fields]
    )
    staged = {
        "frontier": fr,
        "frontier_empty": store.stage("frontier_empty", frontier.limit(0), 0),
        "results": store.stage("results", results, 0),
        "results_empty": store.stage("results_empty", results.limit(0), 0),
        "results_sub1": store.stage("results_sub1", results, 0),
        "bloom": store.stage("bloom", bf.empty_bits_df(spark, bf.BloomConfig(4, 1 << 10)), 1),
    }
    store.commit_wave(0)
    r1 = store.stage("results", results, 1)
    store.commit_wave(1)
    assert store.slices("results") == [
        (0, staged["results"]), (0, staged["results_sub1"]), (1, r1)
    ]
    assert store.read("results").count() == 9

    sc = spark.sparkContext
    try:
        for name, info in staged.items():
            sc.setJobGroup(f"typed-{name}", name)
            typed = store.read_slices([info])
            assert sc.statusTracker().getJobIdsForGroup(f"typed-{name}") == [], name
            sc.setJobGroup(f"untyped-{name}", name)
            inferred = spark.read.parquet(*info["files"])
            assert sc.statusTracker().getJobIdsForGroup(f"untyped-{name}"), name
            assert typed.schema == inferred.schema, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert store.read_slices([]) is None

    foreign = str(tmp_path / "foreign.parquet")
    pq.write_table(pa.table({"url_key": ["http://a.test/"]}), foreign)
    with pytest.raises(ValueError, match="foreign.parquet"):
        store.read_slices([{"files": [foreign]}])


def test_pacing_enabled_smoke(spark, tmp_path):
    """pacing_enabled sleeps per host group but never changes the
    emitted set (reference WaitTime analog, state.go:29-41)."""
    import time as _time

    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=3, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=1, RespectNofollow=True,
                      WaitTime="200ms", pacing_enabled=True, per_host_budget=2)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "paced"),
    )
    t0 = _time.time()
    c.run()
    assert _time.time() - t0 > 0.2  # at least one pacing sleep happened
    _assert_match(c, _oracle_run(cfg, pages_pdf, robots_pdf))


def test_midwave_resume(spark, tmp_path):
    """Interrupt AFTER a politeness-subwave checkpoint but before the
    wave completes: resume continues from the checkpoint (the pending
    frontier) and the final output is identical to an uninterrupted
    budgeted run (north_star: 'resumable mid-wave')."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      per_host_budget=3)

    full = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "full"),
    )
    full.run()

    class Interrupted(Exception):
        pass

    part = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "part"),
    )
    orig = part._fetch_and_parse
    calls = {"n": 0}

    def boom(*a, **k):
        # one _fetch_and_parse per politeness sub-wave: wave0 + wave1
        # are single sub-waves, wave2 (4 urls, budget 3) checkpoints
        # part0 after its first sub-wave; the 4th call is wave2's
        # second sub-wave -> interrupt
        calls["n"] += 1
        if calls["n"] >= 4:
            raise Interrupted()
        return orig(*a, **k)

    part._fetch_and_parse = boom
    with pytest.raises(Interrupted):
        part.run()
    # a mid-wave part manifest must exist for wave 2
    assert part.store.parts(2), "expected a mid-wave checkpoint"

    part2 = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "part"),
    )
    part2.run(resume=True)

    a = sorted(tuple(r) for r in full.results().select("Depth", "Priority", "UrlKey").collect())
    b = sorted(tuple(r) for r in part2.results().select("Depth", "Priority", "UrlKey").collect())
    assert a == b
    assert {r["url_key"] for r in full.seen().collect()} == {
        r["url_key"] for r in part2.seen().collect()
    }
    _assert_match(part2, _oracle_run(cfg, pages_pdf, robots_pdf))


def _fold_before_fetch(crawler):
    """Make each wave's fetch+parse wait until its seen-filter fold has
    returned, so a mid-wave checkpoint always lists the wave's staged
    bits (the two run on two driver threads and race otherwise)."""
    import threading

    fold, fetch = crawler._fold_bloom, crawler._fetch_parse_subwaves
    done = {}

    def fold_first(d, *a, **k):
        try:
            return fold(d, *a, **k)
        finally:
            done.setdefault(d, threading.Event()).set()

    def fetch_after(frontier, d, *a, **k):
        assert done.setdefault(d, threading.Event()).wait(300)
        return fetch(frontier, d, *a, **k)

    crawler._fold_bloom, crawler._fetch_parse_subwaves = fold_first, fetch_after


def test_midwave_resume_with_bloom_active(spark, tmp_path):
    """A mid-wave resume of a crawl whose seen-filter is active: the
    interrupted wave's checkpoint lists the bits its fold staged, the
    resumed wave re-stages them under new file names, and the output
    (rows, seen-set, order) and the final bits equal an uninterrupted
    run's and the oracle's."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      per_host_budget=3, bloom_min_seen=0,
                      bloom_shards=4, bloom_bits_per_shard=1 << 12)

    def crawler(wd):
        return SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / wd),
        )

    full = crawler("full")
    full.run()

    class Interrupted(Exception):
        pass

    part = crawler("part")
    _fold_before_fetch(part)
    orig = part._fetch_and_parse
    manifests = tmp_path / "part" / "_manifests"

    def boom(*a, **k):
        # the first fetch after a mid-wave checkpoint (wave 2, budget 3)
        if list(manifests.glob("wave-*.part*.json")):
            raise Interrupted()
        return orig(*a, **k)

    part._fetch_and_parse = boom
    with pytest.raises(Interrupted):
        part.run()
    [checkpoint] = part.store.parts(2)
    assert "bloom" in checkpoint["tables"], checkpoint["tables"].keys()

    # a fresh crawler, no warm_store: everything comes from the store
    part2 = crawler("part")
    _fold_before_fetch(part2)
    part2.run(resume=True)

    _assert_match(part2, _oracle_run(cfg, pages_pdf, robots_pdf))
    assert _engine_rows(part2) == _engine_rows(full)
    assert {r["url_key"] for r in part2.seen().collect()} == {
        r["url_key"] for r in full.seen().collect()
    }

    def final_bits(c):
        w, info = c.store.slices("bloom")[-1]
        assert all(os.path.exists(f) for f in info["files"]), info
        return w, {r["shard"]: bytes(r["bits"]) for r in c.store.read_slices([info]).collect()}

    assert final_bits(part2) == final_bits(full)


def test_warm_start_refuses_interrupted_store_with_bits(spark, tmp_path):
    """A prior store with seen-filter bits must be a finished crawl:
    its newest bits cover only the frontier slices a completed wave
    consumed, so warm-starting from an interrupted one would probe its
    pending frontier's keys definitely-new. The warm start names the
    store and refuses; once run(resume=True) has finished the store,
    the same warm start re-emits only the seeds."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=3, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      bloom_min_seen=0, bloom_shards=4,
                      bloom_bits_per_shard=1 << 12)

    def crawler(wd, warm_store=None):
        return SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / wd), warm_store=warm_store,
        )

    class Interrupted(Exception):
        pass

    prior = crawler("prior")
    orig = prior._run_wave

    def boom(frontier, d, *a, **k):
        if d == 1:
            raise Interrupted()
        return orig(frontier, d, *a, **k)

    prior._run_wave = boom
    with pytest.raises(Interrupted):
        prior.run()
    # wave 0 committed its bits and a non-empty frontier for wave 1
    assert prior.store.slices("bloom")
    prior_dir = str(tmp_path / "prior")
    with pytest.raises(ValueError, match="interrupted") as exc:
        crawler("warm-early", warm_store=prior_dir)
    assert prior_dir in str(exc.value)

    crawler("prior").run(resume=True)
    warm = crawler("warm", warm_store=prior_dir)
    warm.run()
    emitted = sorted(r["UrlKey"] for r in warm.results().collect())
    assert emitted == sorted(seeds), emitted


def test_single_pass_wave_plan_regression(spark, tmp_path):
    """Explain-based plan guard (VERDICT r02 #8): the composed
    single-pass wave evaluates the robots pandas-UDF exactly ONCE
    (no double-gate: one ArrowEvalPython node) and the fetch join
    scans the bucketed pages table without a pages-side Exchange, so
    future engine edits can't silently reintroduce either regression."""
    from crawlspark.engine import SparkCrawler, bucketize_pages
    from crawlspark.schema import FRONTIER_SCHEMA

    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    pages_df = bucketize_pages(
        spark, testkit.pages_to_spark(spark, pages_pdf), "pages_plan_test", buckets=8
    )
    cfg = CrawlConfig(From=seeds, MaxDepth=1)
    c = SparkCrawler(
        spark, cfg, pages_df, testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "plan"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # suppress broadcast of the tiny test frontier so the
        # sort-merge path (the 10^10-scale plan) is what we assert on
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        frontier = spark.createDataFrame(
            [(u, u, 0, i, i) for i, u in enumerate(seeds)], FRONTIER_SCHEMA
        )
        parsed = c._fetch_and_parse(c._gate(frontier), rows_hint=len(seeds))
        plan = parsed._jdf.queryExecution().executedPlan().toString()
        # exactly one robots-UDF evaluation in the whole wave
        assert plan.count("ArrowEvalPython") == 1, plan
        # parse stage is one Arrow map, no cartesian anywhere
        assert "CartesianProduct" not in plan
        # pages side stays bucketed: the only parquet scan is pages,
        # and it is bucket-pruned with no Exchange above it
        assert "Bucketed: true" in plan, plan
        pages_side = plan.split("FileScan parquet")[1]
        assert "SelectedBucketsCount" in pages_side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_budgeted_wave_plan_single_pass(spark, tmp_path):
    """Plan guards for the BUDGETED (production) path (VERDICT r03
    #2 + #4): the results job of a budgeted wave evaluates the robots
    pandas-UDF exactly ONCE (blocked rows ride the single-pass LEFT
    join instead of a second gate branch), and the only
    host-partitioned Window is the SALTED row_number — the per-host
    row count comes from a groupBy partial aggregate broadcast back,
    never an unsalted `count(*) over partitionBy(host)` that would
    colocate a hot host into one task before the salt exists."""
    from crawlspark.engine import SparkCrawler
    from crawlspark.schema import FRONTIER_SCHEMA

    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=1, per_host_budget=3)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "budgetplan"),
    )
    frontier = spark.createDataFrame(
        [(u, u, 0, i, i) for i, u in enumerate(seeds)], FRONTIER_SCHEMA
    )
    take, defer = c._apply_budget(c._gate(frontier), cfg.per_host_budget)
    parsed = c._fetch_and_parse(take, rows_hint=len(seeds))
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    # one robots-UDF evaluation in the whole budgeted results job
    assert plan.count("ArrowEvalPython") == 1, plan
    # every host-partitioned window is salted; the host count is a
    # HashAggregate (map-side partial), not a Window
    for spec in plan.split("windowspecdefinition(")[1:]:
        args = spec.split(")")[0]
        if "host#" in args:
            assert "_salt" in args, plan
    assert "count(1) windowspecdefinition" not in plan, plan
    # blocked rows never consume a budget slot: disallow-all robots
    robots_block = robots_pdf.copy()
    robots_block["body"] = "User-agent: *\nDisallow: /\n"
    c2 = SparkCrawler(
        spark, CrawlConfig(From=seeds, MaxDepth=1, per_host_budget=1),
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_block),
        workdir=str(tmp_path / "budgetplan2"),
    )
    take2, defer2 = c2._apply_budget(c2._gate(frontier), 1)
    # all seeds blocked -> all ride sub-wave 0, none deferred
    assert defer2.count() == 0
    assert take2.count() == len(seeds)


def test_robots_local_gate_equals_join_gate(spark, tmp_path, monkeypatch):
    """r05 collected-robots gate: the broadcast-dict path (default for
    small robots tables) must produce the identical crawl — rows,
    blocked statuses, seen-set — as the rules-join path
    (ROBOTS_LOCAL_THRESHOLD=0), which remains the 10^7-host scale
    path. matrix_site includes robots-blocked URLs, so the gate
    semantics are actually exercised (fetch_url evaluation; a
    left-join miss maps to the (None, None) matcher key =
    robots.from_status(None) = DISALLOW_ALL — an unfetchable
    robots.txt means disallow, and both gate paths must agree)."""
    import pandas as pd

    pages_pdf, robots_pdf, seeds = testkit.matrix_site()
    outs = {}
    for name, th in (("local", 50_000), ("join", 0)):
        monkeypatch.setattr(engine, "ROBOTS_LOCAL_THRESHOLD", th)
        cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=False)
        c = SparkCrawler(
            spark, cfg,
            testkit.pages_to_spark(spark, pages_pdf),
            testkit.robots_to_spark(spark, robots_pdf),
            workdir=str(tmp_path / f"gate-{name}"),
        )
        assert (c._robots_bc is not None) == (name == "local")
        c.run()
        outs[name] = (
            sorted(tuple(r) for r in c.results()
                   .select("Depth", "Priority", "UrlKey", "Status").collect()),
            sorted(r["url_key"] for r in c.seen().collect()),
        )

        # a duplicate (scheme, host) robots row fails loudly on this
        # path: a dict would keep the last row and the join would fan
        # frontier rows out, either one silently changing the output
        dup = pd.concat([robots_pdf, robots_pdf.iloc[:1]], ignore_index=True)
        with pytest.raises(ValueError, match=r"duplicate \(scheme, host\)"):
            SparkCrawler(
                spark, CrawlConfig(From=seeds, MaxDepth=0),
                testkit.pages_to_spark(spark, pages_pdf),
                testkit.robots_to_spark(spark, dup),
                workdir=str(tmp_path / f"gate-dup-{name}"),
            )
    assert outs["local"] == outs["join"]
    # blocked rows exist in the fixture — the gate did real work
    assert any("Blocked" in t[3] for t in outs["local"][0])

    # oversized total body bytes disable the local path (code-review
    # r05: giant collects OOM the driver)
    monkeypatch.setattr(engine, "ROBOTS_LOCAL_THRESHOLD", 50_000)
    monkeypatch.setattr(engine, "ROBOTS_LOCAL_MAX_BYTES", 1)
    c_big = SparkCrawler(
        spark, CrawlConfig(From=seeds, MaxDepth=0),
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "gate-big"),
    )
    assert c_big._robots_bc is None


def test_robots_join_gate_plan(spark, tmp_path, monkeypatch):
    """The rules-JOIN gate (the 10^7-host scale path, VERDICT r05 #3)
    must plan as a REAL join + exactly one gate UDF — no driver
    collect of the rules — while the collected path plans no join.
    scripts/robots_join_bench.py measures the join shape at 500k
    hosts / 10^6 frontier rows (BENCH.md row)."""
    _JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    pages_pdf, robots_pdf, seeds = testkit.matrix_site()
    monkeypatch.setattr(engine, "ROBOTS_LOCAL_THRESHOLD", 0)
    c = SparkCrawler(
        spark,
        CrawlConfig(From=seeds, MaxDepth=1),
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "joingate"),
    )
    assert c._robots_bc is None
    gated = c._gate(c._initial_frontier())
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert any(j in plan for j in _JOINS), plan
    assert plan.count("ArrowEvalPython") == 1, plan

    monkeypatch.setattr(engine, "ROBOTS_LOCAL_THRESHOLD", 50_000)
    c2 = SparkCrawler(
        spark,
        CrawlConfig(From=seeds, MaxDepth=1),
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "joingate2"),
    )
    assert c2._robots_bc is not None
    plan_local = (
        c2._gate(c2._initial_frontier())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert not any(j in plan_local for j in _JOINS), plan_local


def test_bucketed_pages_fetch_join(spark, tmp_path):
    """Bucketed pages table: identical crawl output, and the fetch
    join plan scans the pages side bucketed (no pages-side shuffle)."""
    from crawlspark.engine import bucketize_pages

    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    pages_df = testkit.pages_to_spark(spark, pages_pdf)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True)

    plain = SparkCrawler(
        spark, cfg, pages_df, testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "plain"),
    )
    plain.run()

    bucketed_pages = bucketize_pages(spark, pages_df, "pages_bucketed_test", buckets=8)
    bucketed = SparkCrawler(
        spark, cfg, bucketed_pages, testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "bucketed"),
    )
    bucketed.run()

    a = sorted(tuple(r) for r in plain.results().select("Depth", "Priority", "UrlKey").collect())
    b = sorted(tuple(r) for r in bucketed.results().select("Depth", "Priority", "UrlKey").collect())
    assert a == b

    # the join planned against the bucketed scan (suppress broadcast of
    # the tiny test frontier so the sort-merge path is visible)
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        frontier = pages_df.select(F.col("url").alias("fetch_key")).limit(10)
        j = frontier.join(bucketed_pages, F.col("fetch_key") == bucketed_pages["url"], "inner")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # no Exchange directly above the bucketed scan side
        pages_side = plan.split("FileScan parquet")[1]
        assert "SelectedBucketsCount" in pages_side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_filter_apis_ship_package_at_definition_time(spark):
    """bloomfilter public APIs build applyInPandas
    closures that reference module-level helpers (pickled by module
    REFERENCE), so each must call ensure_shipped ITSELF at frame
    DEFINITION time — PySpark snapshots the py-files list into the
    serialized UDF when the frame is built, not when it runs
    (shipping.py; code-review r7: these were the only UDF-creating
    entry points missing the call)."""
    from crawlspark import bloomfilter

    sc = spark.sparkContext
    bcfg = bloomfilter.BloomConfig(n_shards=2, bits_per_shard=1 << 10)
    urls = spark.createDataFrame([("http://a/",)], "u string")
    bbits = spark.createDataFrame([], bloomfilter.BITS_SCHEMA)
    calls = [
        lambda: bloomfilter.probe(urls, bbits, "u", bcfg),
        lambda: bloomfilter.mark(urls, bbits, "u", bcfg),
    ]
    for call in calls:
        sc._crawlspark_shipped = False
        call()  # definition alone must ship — no action/execution
        assert getattr(sc, "_crawlspark_shipped", False)


def test_unknown_enum_knobs_fail_loudly(spark, tmp_path):
    """Typo'd string knobs must raise at construction, not silently
    run the default code path: the engine tests canon_mode ==
    'extended' only, so canon_mode='Extended' would otherwise
    silently crawl with go-parity keys."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    pages = testkit.pages_to_spark(spark, pages_pdf)
    robots = testkit.robots_to_spark(spark, robots_pdf)
    cfg = CrawlConfig(From=seeds, MaxDepth=1, canon_mode="Extended")
    with pytest.raises(ValueError, match="unknown canon_mode"):
        SparkCrawler(spark, cfg, pages, robots, workdir=str(tmp_path / "bad"))


def test_budgeted_crawl_jobs_stay_in_callers_job_group(spark, tmp_path):
    """A budgeted wave runs its results and pending-stage jobs from two
    pool threads. They inherit the caller's local properties, so a job
    group set around run() holds every job of the crawl and no job
    runs outside it (per-layer job tags rely on the same inheritance)."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=3, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True, per_host_budget=2)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "jobgroup"),
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    outside = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("budgeted-crawl", "budgeted crawl")
    try:
        c.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the overlap ran: some wave took more than one sub-wave
    assert max(m.get("subwaves", 0) for m in c.store.metrics()) > 1
    assert tracker.getJobIdsForGroup("budgeted-crawl")
    # the retained-job list may evict old ids, never gain ungrouped ones
    assert not set(tracker.getJobIdsForGroup(None)) - outside


@pytest.fixture(scope="module")
def polite_bloom(spark, tmp_path_factory):
    """A budgeted crawl with an active seen-filter, every stage() call
    recorded with the job description its thread ran under, and each
    staged bloom slice's input files and plan. Wave 0 (1 seen row) runs
    below bloom_min_seen, wave 1 activates the bits and wave 2 folds its
    frontier into them, each beside its fetch+parse; wave 2 (4 followed
    rows, budget 3) is ranked once and ends in an unranked sub-wave."""
    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=4, max_id_len=3)
    cfg = CrawlConfig(From=seeds, MaxDepth=2, RespectNofollow=True,
                      per_host_budget=3, bloom_min_seen=len(seeds) + 1,
                      bloom_shards=4, bloom_bits_per_shard=1 << 12)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path_factory.mktemp("polite_bloom")),
    )
    sc = spark.sparkContext
    calls, bloom_plans = [], []
    orig = c.store.stage

    def spy(table, df, wave, manifest_wave=None):
        calls.append((table, wave, manifest_wave, sc.getLocalProperty("spark.job.description")))
        if table == "bloom":
            bloom_plans.append(
                (df.inputFiles(), df._jdf.queryExecution().executedPlan().toString())
            )
        return orig(table, df, wave, manifest_wave)

    c.store.stage = spy
    sc.setJobDescription("caller")
    try:
        c.run()
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.job.description", None)
    return c, calls, after, _oracle_run(cfg, pages_pdf, robots_pdf), bloom_plans


def test_every_stage_runs_under_its_layer_description(polite_bloom):
    """Every Spark job a crawl stages runs under
    ``wave=<d> sub=<s> layer=<name>`` — on the pool threads of the
    ranked sub-wave and of the bloom fold too — and the caller's own
    description is back in place after run()."""
    c, calls, after, oracle_out, _ = polite_bloom
    _assert_match(c, oracle_out)
    assert after == "caller"
    metrics = {m["wave"]: m for m in c.store.metrics() if m["wave"] >= 0}
    assert metrics[2]["subwaves"] == 2 and "subwave_t_pend" in metrics[2], metrics[2]
    seen_layers = set()
    for table, wave, manifest_wave, desc in calls:
        d = wave if manifest_wave is None else manifest_wave
        name, _, k = table.partition("_sub")
        if table == "frontier" and d == -1:
            want = "wave=-1 sub=- layer=seed"
        elif name in ("results", "pending"):
            layer = "fetch_parse" if name == "results" else "pending"
            want = f"wave={d} sub={int(k or 0)} layer={layer}"
        else:
            want = f"wave={d} sub=- layer={name}"
        assert desc == want, (table, wave, desc)
        seen_layers.add(want.rsplit("=", 1)[1])
    assert seen_layers == {"seed", "fetch_parse", "pending", "frontier", "bloom"}


def test_bloom_slices_equal_backfill_of_seen_keys(spark, polite_bloom):
    """Each committed seen-filter slice is byte-identical, shard by
    shard, to marking into empty bits every frontier key a completed
    wave consumed: manifest w's bits cover the frontier slices up to
    manifest w-1. Each fold reads frontier (and bloom) slices only —
    no results file, no link explode: the candidates are computed once,
    for the frontier dedup."""
    from crawlspark import bloomfilter as bf

    c, bloom_plans = polite_bloom[0], polite_bloom[4]

    def shard_bytes(df):
        return {r["shard"]: bytes(r["bits"]) for r in df.collect()}

    assert len(bloom_plans) == 2
    for files, plan in bloom_plans:
        tables = {f.rsplit("/", 3)[-3] for f in files}
        assert tables and tables <= {"frontier", "bloom"}, files
        assert "Generate" not in plan, plan

    blooms = c.store.slices("bloom")
    assert [w for w, _ in blooms] == [1, 2]
    for w, info in blooms:
        keys = c.store.read("frontier", up_to=w - 1).select("url_key")
        want = bf.mark(keys, bf.empty_bits_df(spark, c.bloom_cfg), "url_key", c.bloom_cfg)
        got = shard_bytes(c.store.read_slices([info]))
        assert sorted(got) == list(range(c.bloom_cfg.n_shards))
        assert got == shard_bytes(want), w


def test_budget_that_never_binds_ranks_nothing(spark, tmp_path, nice):
    """A budget no wave exceeds (nice_site's largest wave has 125
    rows) leaves the crawl unranked: no pending slice, no Window in
    any results plan, and the same rows, seen-set and order as the
    unbudgeted crawl and the oracle."""
    base, oracle_out = nice
    pages_pdf, robots_pdf, seeds = testkit.nice_site()
    cfg = CrawlConfig(From=seeds, MaxDepth=3, RespectNofollow=True, Connections=20,
                      per_host_budget=125)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "budget-fits"),
    )
    plans = []
    orig = c.store.stage

    def spy(table, df, wave, manifest_wave=None):
        if table.startswith("results"):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(table, df, wave, manifest_wave)

    c.store.stage = spy
    c.run()
    assert not c.store.slices("pending")
    assert all(m.get("subwaves", 1) == 1 for m in c.store.metrics())
    assert len(plans) == 4 and not any("Window" in p for p in plans), plans
    _assert_match(c, oracle_out)
    assert _engine_rows(c) == _engine_rows(base)
    assert {r["url_key"] for r in c.seen().collect()} == {
        r["url_key"] for r in base.seen().collect()
    }


def test_seed_frontier_is_one_file_of_frontier_schema(spark, tmp_path):
    """The seed frontier is built from Arrow in one partition per
    PARSE_ROWS_PER_TASK seeds: the committed seed slice is one file
    whose footer records FRONTIER_SCHEMA (plus the store's lineage
    columns)."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from crawlspark.schema import FRONTIER_SCHEMA
    from crawlspark.store import SPARK_SCHEMA_KEY

    pages_pdf, robots_pdf, _ = testkit.nice_site(branching=4, max_id_len=2)
    seeds = list(pages_pdf["url"][:20])
    c = SparkCrawler(
        spark, CrawlConfig(From=seeds, MaxDepth=0),
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "seeds"),
    )
    c.run()
    [(_, info)] = [s for s in c.store.slices("frontier") if s[0] == -1]
    assert info["rows"] == len(seeds) and len(info["files"]) == 1, info
    meta = pq.read_schema(info["files"][0]).metadata
    footer = T.StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    assert T.StructType(
        [f for f in footer.fields if f.name not in ("_wave", "_part")]
    ) == FRONTIER_SCHEMA, footer
    got = c.store.read_slices([info]).orderBy("seed_order").collect()
    assert [(r["url_key"], r["depth"], r["seed_order"]) for r in got] == [
        (u, 0, i) for i, u in enumerate(seeds)
    ]
    assert {m["wave"]: m for m in c.store.metrics()}[0]["fetched"] == len(seeds)


def test_empty_bits_df_equals_python_built_rows(spark):
    """The JVM-built empty bits equal the rows the Python path built:
    one all-zero bits_per_shard/8-byte row per shard."""
    from crawlspark import bloomfilter as bf

    cfg = bf.BloomConfig()
    got = bf.empty_bits_df(spark, cfg)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in bf.BITS_SCHEMA
    ]
    assert sorted((r["shard"], bytes(r["bits"])) for r in got.collect()) == [
        (s, bytes(cfg.bits_per_shard // 8)) for s in range(cfg.n_shards)
    ]


def test_deferred_subwave_fetch_join_broadcasts_slice(spark, tmp_path):
    """Politeness sub-waves >= 1 are all-allowed, so their fetch join
    is INNER and hash-builds on the (broadcast) frontier-slice side —
    a left-outer join can never broadcast its preserved side, which
    made every deferred sub-wave shuffle+sort the whole non-bucketed
    pages corpus even for a ~200-row hot-host leftover (the measured
    3.4 s/sub-wave budgeted Amdahl term, r9). Pins: the deferred
    slice's plan has a broadcast join with NO Exchange on the pages
    scan, while sub-wave 0 keeps the blocked-row-preserving LEFT
    join; and inner-vs-left on an all-allowed slice is output-equal
    even with page-miss (fetch error) rows in it."""
    from crawlspark.engine import SparkCrawler
    from crawlspark.schema import FRONTIER_SCHEMA

    pages_pdf, robots_pdf, seeds = testkit.nice_site(branching=2, max_id_len=2)
    cfg = CrawlConfig(From=seeds, MaxDepth=1, per_host_budget=3)
    c = SparkCrawler(
        spark, cfg,
        testkit.pages_to_spark(spark, pages_pdf),
        testkit.robots_to_spark(spark, robots_pdf),
        workdir=str(tmp_path / "bcastplan"),
    )
    # a deferred-slice stand-in incl. one page-miss row (fetch error)
    rows = [(u, u, 1, 2, None) for u in
            [f"http://site-0.test/{i}" for i in (0, 1, 10, 11)]]
    rows.append(("http://site-0.test/nopage9999", "http://site-0.test/nopage9999", 1, 2, None))
    pending = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    from pyspark.sql import functions as F
    regated = c._gate(pending).withColumn("_allowed", F.lit(True))

    inner = c._fetch_and_parse(regated, rows_hint=5, all_allowed=True)
    plan = inner._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the pages side streams from its scan with no exchange above it
    assert "Exchange hashpartitioning(url#" not in plan, plan

    left = c._fetch_and_parse(regated, rows_hint=5, all_allowed=False)
    key = lambda r: (r["UrlKey"], r["StatusCode"])  # noqa: E731
    assert sorted(map(key, inner.collect())) == sorted(map(key, left.collect()))
    # 4 real pages parsed; the page-miss row dropped by both shapes
    assert inner.count() == 4


def _rows_to_pdf(rows: list[dict]) -> pd.DataFrame:
    cols = [f.name for f in RESULT_FULL_SCHEMA.fields]
    return pd.DataFrame({c: [r.get(c) for r in rows] for c in cols})


def _parse_map(check_payload: bool, blocked_counter=None):
    """Dict-per-row oracle of engine._parse_map_arrow (the engine's
    mapInArrow parse stage) for test_parse_map_arrow_differential:
    joined (frontier ⋈ pages [⋈ images]) rows -> full nested Result
    rows. Pure function of the row — safe to re-execute on task retry
    (idempotent wave semantics).

    Single-pass mode (input carries ``_allowed`` from the robots gate,
    pages side LEFT-joined): robots-blocked rows emit blocked results
    inline and allowed rows with no page row are dropped (fetch error,
    crawler.go:256-259) — one job evaluates gate+fetch+parse+blocked,
    instead of the gate running once per filter branch."""

    def fn(batches):
        from crawlspark import imagecodec

        for pdf in batches:
            rows = []
            n_blocked = 0
            has_img = "image_bytes" in pdf.columns
            has_gate = "_allowed" in pdf.columns
            for r in pdf.to_dict("records"):
                if has_gate:
                    if not r["_allowed"]:
                        res = oracle.blocked_result(r["fetch_url"], int(r["depth"]))
                        res["Priority"] = int(r["priority"])
                        res["UrlKey"] = r["url_key"]
                        res["Payload"] = None
                        rows.append(res)
                        n_blocked += 1
                        continue
                    if r["url"] is None:  # LEFT-join miss: no page -> fetch error, silent drop
                        continue
                hdrs = r["headers"]  # Arrow list column -> numpy array or None
                if isinstance(hdrs, float):  # pandas NaN for a null list
                    r["headers"] = None
                # the joined record IS page-shaped (same column names the
                # page dict used to copy) — _sorted_headers iterates the
                # ndarray directly, so no per-row dict/list rebuild here
                res = oracle.make_result_dict(r["fetch_url"], int(r["depth"]), r)
                res["Priority"] = int(r["priority"])
                res["UrlKey"] = r["url_key"]
                payload = None
                if has_img and r.get("image_id") is not None and r.get("image_bytes") is not None:
                    img_id, fmt = r["image_id"], r["fmt"]
                    psnr_v, ok = None, None
                    if check_payload:
                        try:
                            dec = imagecodec.decode(bytes(r["image_bytes"]), fmt)
                            truth = imagecodec.synth_image(img_id, int(r["img_w"]), int(r["img_h"]))
                            psnr_v = imagecodec.psnr(truth, dec)
                            ok = bool(psnr_v >= 40.0)
                        except NotImplementedError:
                            psnr_v, ok = None, None
                    payload = {
                        "ImageId": img_id,
                        "Caption": r["caption"],
                        "Fmt": fmt,
                        "W": int(r["img_w"]),
                        "H": int(r["img_h"]),
                        "Phash": int(r["phash"]) if r["phash"] is not None else None,
                        "Psnr": psnr_v,
                        "PixelsOk": ok,
                    }
                res["Payload"] = payload
                rows.append(res)
            if blocked_counter is not None and n_blocked:
                blocked_counter.add(n_blocked)
            yield _rows_to_pdf(rows)

    return fn


def test_parse_map_arrow_differential():
    """r10: the columnar parse (engine._parse_map_arrow) must be
    row-identical to the dict-path oracle _parse_map above on an
    adversarial batch — blocked rows,
    LEFT-join misses, non-html, 404, redirects (with and without
    Location), empty/None headers, link-less html, image payloads
    (valid decode, decode-error fmt, missing bytes, null phash) — with
    check_payload on AND off, with and without the image columns, and
    on zero-row / all-dropped batches."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from crawlspark import imagecodec
    from crawlspark.engine import _parse_map_arrow

    def mk(host, pid, *, allowed=True, miss=False, img=None, **kw):
        r = testkit.page_row(host, pid, **kw)
        url = r["url"]
        r["fetch_url"] = url
        r["url_key"] = url
        r["depth"] = 1
        r["priority"] = 2
        r["_allowed"] = allowed
        if not allowed or miss:
            r["url"] = None  # blocked rows never match a page row
            for k in ("status", "status_code", "proto", "proto_major",
                      "proto_minor", "content_type", "location", "headers", "html"):
                r[k] = None
        r["image_id"] = r["image_bytes"] = r["fmt"] = r["caption"] = None
        r["img_w"] = r["img_h"] = r["phash"] = None
        if img is not None:
            r.update(img)
        return r

    png = imagecodec.encode(imagecodec.synth_image("h/x", 8, 6), "png")
    rows = [
        mk("a.test", "0", branching=3),
        mk("a.test", "1", allowed=False),
        mk("a.test", "2", miss=True),
        mk("a.test", "3", content_type="text/plain"),
        mk("a.test", "4", status_code=404),
        mk("a.test", "5", status_code=301, location="http://a.test/0"),
        mk("a.test", "6", status_code=302, location=None),
        mk("a.test", "7", branching=0),
        mk("a.test", "8", branching=1),
        mk("a.test", "9", branching=2, img={
            "image_id": "h/x", "image_bytes": png, "fmt": "png",
            "caption": "cap", "img_w": 8, "img_h": 6, "phash": 12345}),
        # phash stays non-null on every bytes-carrying row: a null
        # there reaches the dict path as pandas NaN and production
        # images tables always carry it
        mk("a.test", "10", branching=1, img={
            "image_id": "h/y", "image_bytes": b"\x00bad", "fmt": "bmp",
            "caption": None, "img_w": 4, "img_h": 4, "phash": 3}),
        mk("a.test", "11", branching=1, img={
            "image_id": "h/z", "image_bytes": None, "fmt": "png",
            "caption": "c", "img_w": 4, "img_h": 4, "phash": 7}),
    ]
    # a page with no headers at all and one with an empty header list
    rows.append(mk("a.test", "12", branching=1))
    rows[-1]["headers"] = None
    rows.append(mk("a.test", "13", branching=1))
    rows[-1]["headers"] = []

    arrow_out = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in RESULT_FULL_SCHEMA.fields]
    )

    def run_both(rows, check_payload, with_img_cols):
        cols = ["url_key", "fetch_url", "depth", "priority", "_allowed", "url",
                "status", "status_code", "proto", "proto_major", "proto_minor",
                "content_type", "location", "headers", "html"]
        if with_img_cols:
            cols += ["image_id", "image_bytes", "fmt", "caption",
                     "img_w", "img_h", "phash"]
        pdf = pd.DataFrame({c: [r[c] for r in rows] for c in cols})
        out_pdfs = list(_parse_map(check_payload, None)(iter([pdf])))
        assert len(out_pdfs) == 1
        # NaN -> null like Spark's pandas->Arrow serializer; typed
        # empties for the zero-row case (empty pandas cols are float64)
        expect_arrs = [
            pa.array([], type=f.type) if len(out_pdfs[0]) == 0
            else pa.Array.from_pandas(out_pdfs[0][f.name], type=f.type)
            for f in arrow_out
        ]
        expected = pa.RecordBatch.from_arrays(expect_arrs, schema=arrow_out).to_pylist()

        pa_types = {
            "depth": pa.int64(), "priority": pa.int32(), "_allowed": pa.bool_(),
            "status_code": pa.int64(), "proto_major": pa.int64(),
            "proto_minor": pa.int64(),
            "headers": pa.list_(pa.struct([("K", pa.string()), ("V", pa.string())])),
            "image_bytes": pa.binary(), "img_w": pa.int32(), "img_h": pa.int32(),
            "phash": pa.int64(),
        }
        in_arrs = [
            pa.array([r[c] for r in rows], type=pa_types.get(c, pa.string()))
            for c in cols
        ]
        rb = pa.RecordBatch.from_arrays(in_arrs, names=cols)
        got_batches = list(_parse_map_arrow(check_payload, None)(iter([rb])))
        assert len(got_batches) == 1
        got = got_batches[0].to_pylist()
        assert got == expected, (check_payload, with_img_cols)
        return got

    got = run_both(rows, check_payload=True, with_img_cols=True)
    assert len(got) == len(rows) - 1  # exactly the LEFT-miss row dropped
    # the valid-png payload actually verified
    pay = {g["UrlKey"]: g["Payload"] for g in got}
    p = pay["http://a.test/9"]
    assert p["PixelsOk"] is True and p["Psnr"] is not None
    assert pay["http://a.test/10"]["Psnr"] is None  # decode-error fmt
    assert pay["http://a.test/11"] is None  # bytes missing -> no payload

    run_both(rows, check_payload=False, with_img_cols=True)
    run_both([r for r in rows if r["image_bytes"] is None], False, False)
    run_both([], check_payload=False, with_img_cols=False)  # zero-row batch
    run_both([mk("a.test", "drop", miss=True)], False, False)  # all dropped
