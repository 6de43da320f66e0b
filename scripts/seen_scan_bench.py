"""Quantify the accumulated-seen verify-join term (VERDICT r07 #2).

Every wave anti-joins candidate URLs against the seen-set = ALL prior
frontier slices (engine.py _dedup_against_seen / crawler.go:240-247).
At 10^10 URLs over many waves the seen side dwarfs the wave, so HOW
that join plans is the last open 100x-scale question. Two parts:

Part A — the join term in isolation, at synthetic seen sizes, for the
candidate shapes:
  anti      maybe ⋉̸ seen          (engine default: fastest on
            local/single node — in-memory shuffle ≈ memcpy)
  bucketed  hits := seen ⋉ maybe;  probed ⋉̸ hits, seen persisted as
            a bucketed table and the semi join forced to a
            shuffled-hash build on the maybe side — seen side has NO
            exchange or sort at ANY size; measured FLAT in seen size.
            Shipped as the engine's layout at engine.SEEN_BUCKETED_ROWS
            seen keys and above (the 10^10 layout, same pattern as
            bucketize_pages)
(The slice-layout semi shape, the same semi join over the unbucketed
seen, was removed from the engine: ~20% slower than anti at every
size, BENCH.md r8.)

Part B — the term in the engine: a constant-wave chain crawl
(branching=1, so every wave fetches n_hosts rows while the seen-set
grows linearly) crawled under the bucketed layout vs the slices
anti-join; per-wave t_frontier from the store metrics isolates the
growth term.

Parts B and C pin each shape by setting engine.SEEN_BUCKETED_ROWS
(0 = bucketed from wave 0, a huge value = slices throughout), the way
robots_join_bench.py pins engine.ROBOTS_LOCAL_THRESHOLD.

Emits one markdown table per part (paste into BENCH.md) plus a final
JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SEEN_SIZES = [
    int(s) for s in os.environ.get(
        "CRAWLSPARK_SEEN_SIZES", "2000000,8000000,32000000"
    ).split(",")
]
MAYBE_SIZES = [
    int(s) for s in os.environ.get(
        "CRAWLSPARK_MAYBE_SIZES", "50000,4000000"
    ).split(",")
]
CHAIN_HOSTS = int(os.environ.get("CRAWLSPARK_CHAIN_HOSTS", "30000"))
CHAIN_DEPTH = int(os.environ.get("CRAWLSPARK_CHAIN_DEPTH", "8"))
# Part C: warm-seen ballast size (VERDICT r08 #3 — the in-engine
# crossover run needs seen >= 10M, which no fixture-scale crawl
# reaches by itself in this sandbox's wall-clock budget)
WARM_KEYS = int(os.environ.get("CRAWLSPARK_WARM_KEYS", "30000000"))


def build_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("crawlspark-seen-scan-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(CPUS), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.locality.wait", "0")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _seen_dir(n: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"seenbench-seen-{n}")


def _maybe_dir(n_seen: int, m: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"seenbench-maybe-{n_seen}-{m}")


def _gen(spark, n_seen: int, m_maybe: int):
    """Seen = n realistic url_keys; maybe = m rows, half true dupes
    (sampled across the whole seen id range) + half fresh keys."""
    from pyspark.sql import functions as F

    sd = _seen_dir(n_seen)
    if not os.path.exists(os.path.join(sd, "_SUCCESS")):
        (
            spark.range(n_seen)
            .select(
                F.format_string(
                    "https://bench-%04d.test/p/%d", F.col("id") % 50000, F.col("id")
                ).alias("url_key")
            )
            .write.mode("overwrite").parquet(sd)
        )
    md = _maybe_dir(n_seen, m_maybe)
    if not os.path.exists(os.path.join(md, "_SUCCESS")):
        half = m_maybe // 2
        step = max(n_seen // max(half, 1), 1)
        dup = spark.range(half).select(
            F.format_string(
                "https://bench-%04d.test/p/%d",
                (F.col("id") * step) % n_seen % 50000,
                (F.col("id") * step) % n_seen,
            ).alias("url_key")
        )
        fresh = spark.range(half).select(
            F.format_string(
                "https://bench-%04d.test/q/%d", F.col("id") % 50000, F.col("id")
            ).alias("url_key")
        )
        dup.unionByName(fresh).write.mode("overwrite").parquet(md)
    return sd, md


def _bucketed_seen(spark, n_seen: int, buckets: int = 32):
    """Persist the seen keys as a bucketed table (one-time layout cost,
    amortized over every wave at deployment — appends per wave keep
    the bucket spec)."""
    tbl = f"seen_keys_bench_{n_seen}"
    if not spark.catalog.tableExists(tbl):
        from crawlspark.engine import drop_catalog_table

        drop_catalog_table(spark, tbl)
        t0 = time.time()
        spark.read.parquet(_seen_dir(n_seen)).write.bucketBy(
            buckets, "url_key"
        ).mode("overwrite").saveAsTable(tbl)
        print(f"  [layout] bucketed seen table {n_seen}: {time.time()-t0:.1f}s")
    return spark.table(tbl)


def _time_shape(fn, n=2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 2)


def part_a(spark) -> list[dict]:
    from pyspark.sql import functions as F  # noqa: F401

    rows = []
    print("## Part A: verify-join shapes vs seen size (best-of-2, sec)")
    for n_seen in SEEN_SIZES:
        for m in MAYBE_SIZES:
            sd, md = _gen(spark, n_seen, m)
            seen = spark.read.parquet(sd)
            maybe = spark.read.parquet(md)

            def run_anti():
                return maybe.join(seen, "url_key", "left_anti").count()

            bseen = _bucketed_seen(spark, n_seen)

            def run_bucketed():
                hits = bseen.join(
                    maybe.select("url_key").hint("SHUFFLE_HASH"),
                    "url_key",
                    "left_semi",
                )
                return maybe.join(hits, "url_key", "left_anti").count()

            expect = run_anti()  # warm + ground truth
            assert run_bucketed() == expect, "bucketed shape diverged"
            r = {
                "seen": n_seen,
                "maybe": m,
                "fresh_rows": expect,
                "anti": _time_shape(run_anti),
                "bucketed": _time_shape(run_bucketed),
            }
            rows.append(r)
            print(
                f"| {n_seen:>10,} | {m:>9,} | {r['anti']:>6.2f} "
                f"| {r['bucketed']:>6.2f} |"
            )
    return rows


def part_b(spark) -> dict:
    from crawlspark import benchgen, engine
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import SparkCrawler

    print(
        f"## Part B: chain crawl ({CHAIN_HOSTS} hosts x depth {CHAIN_DEPTH}, "
        "branching=1 -> constant wave, linearly growing seen)"
    )
    web_dir = os.path.join(
        tempfile.gettempdir(), f"seenbench-chain-{CHAIN_HOSTS}-{CHAIN_DEPTH}"
    )
    if not os.path.exists(os.path.join(web_dir, "_SUCCESS")):
        benchgen.gen_pages(spark, CHAIN_HOSTS, 1, CHAIN_DEPTH, 1).write.mode(
            "overwrite"
        ).parquet(web_dir)
    pages = spark.read.parquet(web_dir)
    robots = benchgen.gen_robots(spark, CHAIN_HOSTS)
    # untimed warmup (same rationale as bench.py): JIT + Python-worker
    # startup must not land in whichever shape runs first
    wcfg = CrawlConfig(
        From=benchgen.seed_urls(6), MaxDepth=2, RespectNofollow=False,
        detailed_metrics=False, bloom_min_seen=0,
    )
    SparkCrawler(
        spark, wcfg, benchgen.gen_pages(spark, 6, 1, 2, 1), robots,
        workdir=tempfile.mkdtemp(prefix="seenbench-warm-"),
    ).run()
    out: dict = {}
    for shape in ("bucketed", "anti"):
        cfg = CrawlConfig(
            From=benchgen.seed_urls(CHAIN_HOSTS),
            MaxDepth=CHAIN_DEPTH,
            RespectNofollow=False,
            shuffle_partitions=max(int(CPUS), 8),
            parse_partitions=3 * max(int(CPUS), 8),
            detailed_metrics=False,
            bloom_min_seen=1000,  # prefilter (and the shaped verify
            # join) active from wave 0 — the regime under test
        )
        engine.SEEN_BUCKETED_ROWS = 0 if shape == "bucketed" else 10**18  # PIN the shape
        c = SparkCrawler(
            spark, cfg, pages, robots,
            workdir=tempfile.mkdtemp(prefix=f"seenbench-{shape}-"),
            check_payload=False,
        )
        t0 = time.time()
        c.run()
        total = time.time() - t0
        waves = [
            {
                "wave": i,
                "fetched": m.get("fetched"),
                "seconds": m.get("seconds"),
                "t_frontier": m.get("t_frontier"),
            }
            for i, m in enumerate(
                m for m in c.store.metrics() if m.get("fetched") is not None
            )
        ]
        fetched = sum(w["fetched"] for w in waves)
        expect = benchgen.expected_counts(CHAIN_HOSTS, 1, CHAIN_DEPTH, 1)
        assert fetched == expect, (fetched, expect)
        out[shape] = {"total_sec": round(total, 1), "waves": waves}
        print(f"shape={shape}: total {total:.1f}s")
        print("| wave | cumulative seen | t_frontier (s) | wave total (s) |")
        print("|---|---|---|---|")
        for w in waves:
            print(
                f"| {w['wave']} | {CHAIN_HOSTS * (w['wave'] + 1):,} "
                f"| {w['t_frontier']} | {w['seconds']} |"
            )
    return out


def _warm_store(spark) -> str:
    """A synthetic PRIOR crawl store whose committed frontier slice is
    WARM_KEYS url_keys — the warm_store= input for part C. The keys
    live on disjoint hosts from the chain corpus so they are pure seen
    ballast: present in every wave's verify join, never crawled."""
    from pyspark.sql import functions as F

    from crawlspark.store import SnapshotStore

    warm_dir = os.path.join(
        tempfile.gettempdir(), f"seenbench-warmstore-{WARM_KEYS}"
    )
    if not os.path.exists(os.path.join(warm_dir, "_manifests", "wave--1.json")):
        st = SnapshotStore(spark, warm_dir)
        keys = spark.range(WARM_KEYS).select(
            F.format_string(
                "https://warm-%05d.test/p/%d", F.col("id") % 100000, F.col("id")
            ).alias("url_key")
        )
        t0 = time.time()
        st.stage("frontier", keys, 0, manifest_wave=-1)
        st.commit_wave(-1, {"phase": "seeded"})
        print(f"  [gen] warm store ({WARM_KEYS:,} keys): {time.time()-t0:.1f}s")
    return warm_dir


def part_c(spark) -> dict:
    """The in-engine crossover run (VERDICT r08 #3): the part-B chain
    crawl warm-started from a {WARM_KEYS}-key prior store, so EVERY
    wave's verify join faces a >=10M-row seen side — the regime where
    part A measures anti O(seen) (SMJ shuffles+sorts the history per
    wave) and the bucketed catalog table flat. Per-wave t_frontier is
    the isolating metric; the one-time costs (the wave-0 bloom
    activation fold over the warm set, beside wave 0's fetch+parse, and
    the first-use bucketed-table build) are reported separately — at
    deployment they amortize over the crawl.

    Bloom bits are sized ~9 bits/key for the warm set (1<<23 x 32
    shards) so the probe passes only true dupes + ~1-2% fps: the
    verify join's cost is then dominated by the SEEN side's plan
    shape, which is exactly the term under test."""
    from crawlspark import benchgen, engine
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import SparkCrawler

    print(
        f"## Part C: warm-seen chain crawl ({CHAIN_HOSTS} hosts x depth "
        f"{CHAIN_DEPTH}, branching=1) over a {WARM_KEYS:,}-key warm seen-set"
    )
    web_dir = os.path.join(
        tempfile.gettempdir(), f"seenbench-chain-{CHAIN_HOSTS}-{CHAIN_DEPTH}"
    )
    if not os.path.exists(os.path.join(web_dir, "_SUCCESS")):
        benchgen.gen_pages(spark, CHAIN_HOSTS, 1, CHAIN_DEPTH, 1).write.mode(
            "overwrite"
        ).parquet(web_dir)
    pages = spark.read.parquet(web_dir)
    robots = benchgen.gen_robots(spark, CHAIN_HOSTS)
    warm_dir = _warm_store(spark)
    # untimed warmup (same rationale as part B)
    wcfg = CrawlConfig(
        From=benchgen.seed_urls(6), MaxDepth=2, RespectNofollow=False,
        detailed_metrics=False, bloom_min_seen=0,
    )
    SparkCrawler(
        spark, wcfg, benchgen.gen_pages(spark, 6, 1, 2, 1), robots,
        workdir=tempfile.mkdtemp(prefix="seenbench-warm-"),
    ).run()
    out: dict = {}
    for shape in ("bucketed", "anti"):
        cfg = CrawlConfig(
            From=benchgen.seed_urls(CHAIN_HOSTS),
            MaxDepth=CHAIN_DEPTH,
            RespectNofollow=False,
            shuffle_partitions=max(int(CPUS), 8),
            parse_partitions=3 * max(int(CPUS), 8),
            detailed_metrics=False,
            bloom_min_seen=1000,
            bloom_bits_per_shard=1 << 23,
        )
        engine.SEEN_BUCKETED_ROWS = 0 if shape == "bucketed" else 10**18  # PIN the shape
        c = SparkCrawler(
            spark, cfg, pages, robots,
            workdir=tempfile.mkdtemp(prefix=f"seenbench-c-{shape}-"),
            check_payload=False,
            warm_store=warm_dir,
        )
        t0 = time.time()
        c.run()
        total = time.time() - t0
        waves = [
            {
                "wave": i,
                "fetched": m.get("fetched"),
                "seconds": m.get("seconds"),
                "t_frontier": m.get("t_frontier"),
            }
            for i, m in enumerate(
                m for m in c.store.metrics() if m.get("fetched") is not None
            )
        ]
        fetched = sum(w["fetched"] for w in waves)
        expect = benchgen.expected_counts(CHAIN_HOSTS, 1, CHAIN_DEPTH, 1)
        assert fetched == expect, (fetched, expect)
        tf = [w["t_frontier"] for w in waves if w["t_frontier"] is not None]
        out[shape] = {
            "total_sec": round(total, 1),
            "t_frontier_sum": round(sum(tf), 1),
            "waves": waves,
        }
        print(
            f"shape={shape}: total {total:.1f}s, t_frontier sum {sum(tf):.1f}s"
        )
        print("| wave | cumulative seen | t_frontier (s) | wave total (s) |")
        print("|---|---|---|---|")
        for w in waves:
            print(
                f"| {w['wave']} | {WARM_KEYS + CHAIN_HOSTS * (w['wave'] + 1):,} "
                f"| {w['t_frontier']} | {w['seconds']} |"
            )
    return out


def main():
    parts = os.environ.get("CRAWLSPARK_SEEN_PARTS", "a,b").split(",")
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    a = part_a(spark) if "a" in parts else None
    b = part_b(spark) if "b" in parts else None
    c = part_c(spark) if "c" in parts else None
    print(json.dumps({"part_a": a, "part_b": b, "part_c": c}))


if __name__ == "__main__":
    main()
