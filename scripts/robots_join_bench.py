"""Gate-only microbench for the robots JOIN path (VERDICT r05 #3).

The collected-robots broadcast covers every fixture and bench run, so
the rules-JOIN path — the shape that actually runs at 10^7-distinct-
host scale, where the rules table no longer fits a driver collect —
never gets its own measured number. This script times EXACTLY that
path: a synthetic frontier of N distinct hosts gated against an
N-host rules table with engine.ROBOTS_LOCAL_THRESHOLD set to 0 (join
pinned on), no fetch, no parse, no store.

    python scripts/robots_join_bench.py [n_hosts] [frontier_rows]

Defaults: 500_000 hosts, 1_000_000 frontier rows (2 URLs/host).
Prints ONE JSON line:
  {"n_hosts", "frontier_rows", "gate_secs", "rows_allowed",
   "rows_gated", "urls_per_sec", "join_node", "plan_ok"}

plan_ok asserts the physical plan shape the scale path must have:
a real join on (r_scheme, r_host) — whichever node AQE picks for the
rules table's size, with no broadcast hint — exactly ONE ArrowEvalPython (the gate UDF), and NO driver collect of
the rules (the collected-robots path is disabled).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_HOSTS = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
FRONTIER_ROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from crawlspark import engine
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import FRONTIER_SCHEMA, SparkCrawler

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("robots-join-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.locality.wait", "0")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # rules: every host has a row; half disallow a path prefix, the
    # rest allow-all; a 10% slice is 404 (allow-by-status). Generated
    # distributed (column exprs only) and materialized to parquet so
    # the timed gate reads a real table, not an in-memory range.
    tmp = tempfile.mkdtemp(prefix="robots-join-")
    rules_dir = os.path.join(tmp, "rules")
    frontier_dir = os.path.join(tmp, "frontier")
    hosts = spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), F.col("id")).alias("hid"), F.col("id")
    )
    (
        hosts.select(
            F.lit("http").alias("scheme"),
            F.concat(F.col("hid"), F.lit(".test")).alias("host"),
            F.when(F.col("id") % 10 == 3, F.lit(404)).otherwise(F.lit(200))
            .alias("status_code"),
            F.when(F.col("id") % 2 == 0, F.lit("User-agent: *\nDisallow: /private"))
            .otherwise(F.lit("User-agent: *\nAllow: /"))
            .alias("body"),
        )
        .write.mode("overwrite")
        .parquet(rules_dir)
    )
    per_host = max(1, FRONTIER_ROWS // N_HOSTS)
    (
        hosts.select(
            F.col("hid"), F.explode(F.sequence(F.lit(0), F.lit(per_host - 1))).alias("p")
        )
        .select(
            F.concat(
                F.lit("http://"), F.col("hid"), F.lit(".test/"),
                # half the URLs under /private so the Disallow rule FIRES
                F.when(F.col("p") % 2 == 0, F.lit("private/x")).otherwise(F.lit("pub/x")),
                F.col("p"),
            ).alias("url_key"),
        )
        .select(
            "url_key",
            F.col("url_key").alias("fetch_url"),
            F.lit(1).alias("depth"),
            F.lit(2).alias("priority"),
            F.lit(None).cast("int").alias("seed_order"),
        )
        .write.mode("overwrite")
        .parquet(frontier_dir)
    )

    engine.ROBOTS_LOCAL_THRESHOLD = 0  # PIN the join path
    cfg = CrawlConfig(
        From=["http://h0.test/"],
        MaxDepth=1,
        shuffle_partitions=int(CPUS),
    )
    pages_stub = spark.createDataFrame(
        [], "url string, status_code int, status string, proto string, "
        "proto_major int, proto_minor int, content_type string, "
        "location string, headers array<struct<K:string,V:string>>, "
        "html string, image_id string",
    )
    crawler = SparkCrawler(
        spark, cfg, pages_stub, spark.read.parquet(rules_dir),
        workdir=os.path.join(tmp, "work"),
    )
    assert crawler._robots_bc is None, "collected-robots path must be OFF"

    frontier = spark.read.parquet(frontier_dir).select(
        *[f.name for f in FRONTIER_SCHEMA.fields]
    )
    gated = crawler._gate(frontier)

    plan = gated._jdf.queryExecution().executedPlan().toString()
    join_node = next(
        (n for n in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
         if n in plan),
        None,
    )
    plan_ok = join_node is not None and plan.count("ArrowEvalPython") == 1

    # untimed warmup compiles the codegen/UDF worker path on a slice
    gated.limit(1000).agg(F.count("*")).collect()

    t0 = time.time()
    counts = gated.agg(
        F.count("*").alias("n"),
        F.sum(F.col("_allowed").cast("long")).alias("ok"),
    ).first()
    secs = time.time() - t0

    n_frontier = counts["n"]
    print(json.dumps({
        "n_hosts": N_HOSTS,
        "frontier_rows": n_frontier,
        "gate_secs": round(secs, 3),
        "rows_allowed": counts["ok"],
        "rows_gated": n_frontier,
        "urls_per_sec": round(n_frontier / secs, 1),
        "join_node": join_node,
        "plan_ok": plan_ok,
    }))


if __name__ == "__main__":
    main()
