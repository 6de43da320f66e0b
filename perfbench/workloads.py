"""The benchmark's workloads, driven through crawlspark's public entry
points only: ``SparkCrawler.run``/``.results``/``.seen``,
``SnapshotStore.metrics``, the ``__spark_entry__.queries()`` registry
with its ``oracle_sql()`` twins, ``crawlspark.analysis`` and the pure
Python cores ``htmlex``, ``canon`` and ``imagecodec``.

Each workload is one closed-loop client: it runs a full crawl drain,
waits for it, checks it, and starts the next one until the run's time
is spent.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

from . import corpus
from .trace import Tracer

# Sizes for a 4-core box; "tiny" is the self-test's size. Crawl webs
# are hosts x branching^depth pages with one host hot_factor times
# wider. "mix" sizes the seeded tables of the read-side query mix that
# the traced wide_payload run measures.
SIZES = {
    "full": {
        "wide_payload": {"hosts": 300, "branching": 25, "hot_factor": 3,
                         "mix": {"customers": 1500, "orders": 15000, "docs": 1000,
                                 "vectors": 500}},
        "deep_polite": {"hosts": 16, "branching": 8, "hot_factor": 3, "budget": 192,
                        "warmups": 2},
    },
    "tiny": {
        "wide_payload": {"hosts": 4, "branching": 3, "hot_factor": 2,
                         "mix": {"customers": 50, "orders": 200, "docs": 60, "vectors": 40}},
        "deep_polite": {"hosts": 3, "branching": 3, "hot_factor": 2, "budget": 20},
    },
}
WORKLOADS = tuple(SIZES["full"])

# The registry's non-crawl headline queries kept in the mix (one per
# operator family), then the corpus analyses over the crawl's own
# results, each with the registry row whose oracle_sql() twin checks it.
MIX_REGISTRY = (
    "tpch_q1_pricing", "orders_region_topk", "docs_minhash_lsh",
    "docs_training_corpus", "emb_ivf_topk", "images_phash_neardup",
)
MIX_ANALYSIS = {
    "inlinks": "crawl_inlinks",
    "sf_emulation": "crawl_sf_emulation",
    "duplicate_title": "crawl_duplicate_title",
    "hreflang_reciprocity": "crawl_hreflang_reciprocity",
}
MICRO_SAMPLE = 200  # pages per pure-core microbenchmark


# ---------------------------------------------------------------------------
# session


def box() -> dict:
    """Cores (as nproc counts them) and RAM of this machine."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cores": cores, "mem_mb": mem_kb // 1024}


def spark_conf(work: str, event_log_dir: str | None = None) -> dict:
    b = box()
    # a third of RAM, at most 6 GiB: the JVM heap plus Python workers
    # must stay well inside the box's memory
    driver_mb = min(6144, b["mem_mb"] // 3)
    conf = {
        "spark.master": f"local[{b['cores']}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{driver_mb}m",
        "spark.sql.shuffle.partitions": str(2 * b["cores"]),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.codegen.aggregate.splitAggregateFunc.enabled": "true",
        "spark.locality.wait": "0",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        # one plain JSON-lines file, readable without a codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the session's JVM process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet file count, total bytes of every file) under root."""
    n, total = 0, 0
    for d, _, files in os.walk(root):
        for f in files:
            n += f.endswith(".parquet")
            total += os.path.getsize(os.path.join(d, f))
    return n, total


class Checks:
    """Counts checked operations and failures; keeps the first reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok


# ---------------------------------------------------------------------------
# correctness gates (pure functions over collected rows, so the
# self-test can feed them a corrupted result)


def norm(v) -> str:
    """Exact, type-tagged value normalisation for cross-engine compare."""
    if v is None:
        return "z:"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v.hex()}"
    return f"s:{v}"


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Order-insensitive equality of two result sets, columns matched
    by lower-cased name."""
    if sorted(c.lower() for c in cols_a) != sorted(c.lower() for c in cols_b):
        return False
    if len(rows_a) != len(rows_b):
        return False
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i].lower())
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i].lower())
    return (sorted(tuple(norm(r[i]) for i in ia) for r in rows_a)
            == sorted(tuple(norm(r[i]) for i in ib) for r in rows_b))


def crawl_matches_oracle(engine_rows: list[dict], engine_seen: set, oracle_out) -> list[str]:
    """Problems between an engine crawl and ``oracle.crawl_oracle``:
    full-row multiset, seen-set, and (Depth, Priority, UrlKey) order."""
    results, seen, _ = oracle_out
    want = []
    for _depth, priority, url_key, res in results:
        d = dict(res)
        d["Priority"], d["UrlKey"] = priority, url_key
        want.append(d)
    problems = []
    canon = lambda d: json.dumps(d, sort_keys=True, default=str)  # noqa: E731
    if sorted(map(canon, engine_rows)) != sorted(map(canon, want)):
        problems.append(f"rows differ from the oracle ({len(engine_rows)} vs {len(want)})")
    if engine_seen != seen:
        problems.append(f"seen-set differs ({len(engine_seen)} vs {len(seen)})")
    keys = [(r["Depth"], r["Priority"], r["UrlKey"]) for r in engine_rows]
    if keys != sorted((d, p, k) for d, p, k, _ in results):
        problems.append("row order is not the oracle's (Depth, Priority, UrlKey) order")
    return problems


# ---------------------------------------------------------------------------
# pure-core microbenchmarks (driver side, over the workload's own pages)


def micro_cores(pages: list[dict], images: list[dict], seed: int) -> dict:
    import random

    from crawlspark import canon, htmlex, imagecodec

    rng = random.Random(seed)
    pages = [p for p in pages if p["html"]]
    sample = rng.sample(pages, min(MICRO_SAMPLE, len(pages)))

    def median_us(fn, reps=3):
        out = []
        for _ in range(reps):
            t = time.perf_counter()
            n = fn()
            out.append((time.perf_counter() - t) / max(n, 1) * 1e6)
        return statistics.median(out)

    def extract():
        for p in sample:
            htmlex.extract_html(p["html"])
        return len(sample)

    hrefs = [(p["url"], [a[0] for a in (htmlex.extract_html(p["html"])["Links"] or [])])
             for p in sample]

    def resolve():
        n = 0
        for url, hs in hrefs:
            r = canon.make_resolver(url)
            for h in hs:
                r(h)
            n += len(hs)
        return n

    out = {"htmlex.extract_us": median_us(extract), "canon.resolve_us": median_us(resolve)}
    if images:
        imgs = rng.sample(images, min(MICRO_SAMPLE, len(images)))
        truth = [imagecodec.synth_image(i["image_id"], i["w"], i["h"]) for i in imgs]

        def decode():
            for i, t in zip(imgs, truth):
                imagecodec.psnr(t, imagecodec.decode(i["bytes"], i["fmt"]))
            return len(imgs)

        out["imagecodec.decode_us"] = median_us(decode)
    return out


# ---------------------------------------------------------------------------
# workloads


class Crawl:
    """One operation is a full drain of a generated web by a fresh
    SparkCrawler into a fresh store."""

    def __init__(self, name: str, size: dict, seed: int, work: str):
        self.name, self.seed, self.work = name, seed, work
        self.payload = name == "wide_payload"
        self.depth = 1 if self.payload else 2
        self.budget = size.get("budget")
        # untimed full-size drains before the timed loop: deep_polite's
        # drains carry few rows per Spark job and warm the JVM slowly
        # (its second drain ran about 25% slower than its fourth)
        self.warmups = size.get("warmups", 1)
        self.mix_size = size.get("mix")
        self.web = corpus.Web(seed, size["hosts"], size["branching"], self.depth,
                              size["hot_factor"], images=self.payload,
                              backlinks=not self.payload)
        self.files = self.web.write(os.path.join(work, "corpus"))
        for info in self.files.values():
            corpus.verify_parquet(info)
        from crawlspark import benchgen

        self.expected = benchgen.expected_counts(
            size["hosts"], size["branching"], self.depth, size["hot_factor"])
        self._stores = 0

    def cfg(self):
        from crawlspark.config import CrawlConfig

        cores = box()["cores"]
        return CrawlConfig(
            From=list(self.web.seeds), MaxDepth=self.depth, RespectNofollow=False,
            shuffle_partitions=2 * cores, parse_partitions=6 * cores,
            detailed_metrics=False, per_host_budget=self.budget,
            # deep_polite: below the seen-set size from the first wave
            # on, so the seen prefilter is activated, probed and folded
            # as at scale; wide_payload keeps the default (never active)
            bloom_min_seen=100_000 if self.payload else len(self.web.seeds) + 1,
        )

    def new_crawler(self, spark):
        """Input set-up: read the corpus and construct the crawler on a
        fresh store."""
        from crawlspark.engine import SparkCrawler
        from crawlspark.schema import ROBOTS_FIXTURE_SCHEMA

        self._stores += 1
        images = (spark.read.parquet(self.files["images"]["path"])
                  if self.payload else None)
        return SparkCrawler(
            spark, self.cfg(), spark.read.parquet(self.files["pages"]["path"]),
            spark.createDataFrame(self.web.robots, ROBOTS_FIXTURE_SCHEMA),
            images_df=images, workdir=os.path.join(self.work, f"store-{self._stores}"),
            check_payload=self.payload,
        )

    def op(self, spark, tracer: Tracer, checks: Checks) -> dict:
        with tracer.span("crawler.init"):
            crawler = self.new_crawler(spark)
        with tracer.span("engine.run"):
            t = time.perf_counter()
            crawler.run()
            wall = time.perf_counter() - t
        metrics = crawler.store.metrics()
        fetched = sum(m.get("fetched", 0) for m in metrics)
        checks.check(fetched == self.expected,
                     f"{self.name}: fetched {fetched} != closed form {self.expected}")
        return {"wall": wall, "crawler": crawler, "metrics": metrics, "fetched": fetched}

    @staticmethod
    def drop(rec: dict) -> None:
        shutil.rmtree(rec["crawler"].workdir, ignore_errors=True)

    def gate(self, spark, rec: dict, checks: Checks) -> None:
        """Full output checks on one drain (untimed)."""
        from pyspark.sql import functions as F

        crawler = rec["crawler"]
        if self.payload:
            res = crawler.results(ordered=False)
            ok = res.filter("Payload IS NOT NULL AND Payload.PixelsOk").count()
            checks.check(ok == self.expected - self.web.n_hosts,
                         f"{self.name}: {ok} PSNR-verified payloads, want "
                         f"{self.expected - self.web.n_hosts}")
            images = spark.read.parquet(self.files["images"]["path"])
            cap_ok = (res.filter("Payload IS NOT NULL")
                      .select(F.col("Payload.ImageId").alias("image_id"),
                              F.col("Payload.Caption").alias("got"))
                      .join(images.select("image_id", "caption"), "image_id")
                      .filter(F.col("got") == F.col("caption")).count())
            checks.check(cap_ok == ok, f"{self.name}: {cap_ok} captions equal of {ok}")
            return
        from crawlspark import oracle

        oracle_out = oracle.crawl_oracle(
            self.cfg(), {p["url"]: p for p in self.web.pages},
            {(s, h): (c, b) for h, s, c, b in self.web.robots})
        cols = [f.name for f in crawler.results().schema.fields if f.name != "Payload"]
        rows = [r.asDict(recursive=True)
                for r in crawler.results(ordered=True).select(*cols).collect()]
        seen = {r["url_key"] for r in crawler.seen().collect()}
        for p in crawl_matches_oracle(rows, seen, oracle_out) or [None]:
            checks.check(p is None, f"{self.name}: {p}")

    def layers(self, spark, recs: list[dict], tracer: Tracer, checks: Checks) -> dict:
        """Per-layer numbers read from the store manifests and outputs
        (traced run only, untimed). A number whose manifest field no
        wave records is left out, and the caller fails the run if the
        workload should have reported it. With a "mix" size, also the
        read side over this crawl's committed results."""
        from pyspark.sql import functions as F

        def waves(rec):
            return [m for m in rec["metrics"] if m["wave"] >= 0]

        def lap(ms, key):
            # the last wave does not expand, so it has no t_frontier
            vals = [m[key] for m in ms if key in m]
            return sum(vals) if vals else None

        def per_drain(fn):
            vals = [fn(waves(r), r["wall"]) for r in recs]
            return None if None in vals else statistics.median(vals)

        def share(ms, wall):
            fp = lap(ms, "t_fetch_parse")
            if fp is None:
                return None
            return (fp + (lap(ms, "t_frontier") or 0) + (lap(ms, "t_bloom") or 0)) / wall

        sub_t = [t for r in recs for m in waves(r) for t in m.get("subwave_t", [])]
        last = recs[-1]["crawler"]
        links = (last.results(ordered=False).filter(F.col("Depth") < self.depth)
                 .select(F.sum(F.size("Links"))).first()[0])
        enqueued = lap(waves(recs[-1]), "enqueued")
        out = {
            "engine.fetch_parse_s": per_drain(lambda ms, _: lap(ms, "t_fetch_parse")),
            "engine.frontier_s": per_drain(lambda ms, _: lap(ms, "t_frontier")),
            "engine.bloom_s": per_drain(lambda ms, _: lap(ms, "t_bloom")),
            # the last expanding wave's fold: bits no later wave probes
            "engine.bloom_final_fold_s": per_drain(
                lambda ms, _: lap([m for m in ms if m["wave"] == self.depth - 1], "t_bloom")),
            "engine.drain_s": per_drain(lambda ms, wall: wall),
            # seeding and manifest commits: drain time outside every wave
            "engine.outside_waves_s": per_drain(
                lambda ms, wall: None if lap(ms, "seconds") is None
                else wall - lap(ms, "seconds")),
            "engine.layer_share": per_drain(share),
            "engine.waves": per_drain(lambda ms, _: len(ms)),
            "engine.subwaves": per_drain(lambda ms, _: lap(ms, "subwaves")),
            "engine.subwave_p50_s": statistics.median(sub_t) if sub_t else None,
            "engine.enqueue_ratio": enqueued / links if enqueued is not None else None,
        }
        out = {k: v for k, v in out.items() if v is not None}
        out.update(store_layers(last))
        out.update(micro_cores(self.web.pages, self.web.images, self.seed))
        if self.mix_size:
            out.update(QueryMix(self.mix_size, self.seed, self.work, last)
                       .layers(spark, tracer, checks))
        return out


def store_layers(crawler) -> dict:
    files, _ = dir_stats(crawler.workdir)
    reads = []
    for _ in range(3):
        t = time.perf_counter()
        crawler.results(ordered=False).write.format("noop").mode("overwrite").save()
        reads.append(time.perf_counter() - t)
    return {"store.files": files, "store.results_read_s": statistics.median(reads)}


class QueryMix:
    """The read side: registry queries over seeded tables, then the
    corpus analyses over a committed crawl's ``results()``, every output
    checked against its DuckDB ``oracle_sql()`` twin."""

    def __init__(self, size: dict, seed: int, work: str, crawler):
        self.crawler = crawler
        self.sf_dir = os.path.join(work, "sf")
        self.tables = corpus.analysis_tables(
            seed, self.sf_dir, customers=size["customers"], orders=size["orders"],
            docs=size["docs"], vectors=size["vectors"])
        for info in self.tables.values():
            corpus.verify_parquet(info)
        self.results_snapshot = os.path.join(work, "crawl_results.parquet")
        crawler.results().write.parquet(self.results_snapshot)
        self.oracle = self._oracle_rows()

    def queries(self) -> list[tuple[str, object]]:
        """(metric name, function of the session building the DataFrame)
        in mix order."""
        import __spark_entry__ as entry
        from crawlspark import analysis

        reg = entry.queries()
        out = [(f"query.{q}_s", lambda s, q=q: reg[q](s, self.sf_dir)) for q in MIX_REGISTRY]
        out += [(f"analysis.{fn}_s",
                 lambda s, fn=fn: getattr(analysis, fn)(self.crawler.results(ordered=False)))
                for fn in MIX_ANALYSIS]
        return out

    def _oracle_rows(self) -> dict:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        snapshot = f"{self.results_snapshot}/*.parquet"
        texts = [(f"query.{q}_s", sql[q]) for q in MIX_REGISTRY]
        texts += [(f"analysis.{fn}_s", sql[reg].replace(entry.CRAWL, snapshot))
                  for fn, reg in MIX_ANALYSIS.items()]
        con = duckdb.connect()
        try:
            for t, info in self.tables.items():
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{info['path']}')")
            out = {}
            for name, text in texts:
                rel = con.sql(text)
                out[name] = ([d[0] for d in rel.description], rel.fetchall())
            return out
        finally:
            con.close()

    def run_pass(self, spark, tracer: Tracer, checks: Checks) -> dict:
        """One pass over the mix; returns per-query wall seconds."""
        walls = {}
        with tracer.span("mix.pass"):
            for name, build in self.queries():
                with tracer.span(name):
                    t = time.perf_counter()
                    df = build(spark)
                    rows = [tuple(r) for r in df.collect()]
                    walls[name] = time.perf_counter() - t
                want_cols, want = self.oracle[name]
                checks.check(same_rows(df.columns, rows, want_cols, want),
                             f"{name}: output differs from its oracle_sql twin")
        return walls

    def layers(self, spark, tracer: Tracer, checks: Checks) -> dict:
        """One cold pass, then one measured pass."""
        self.run_pass(spark, tracer, checks)
        out = self.run_pass(spark, tracer, checks)
        out["query.p50_s"] = statistics.median(out.values())
        out["query.samples"] = len(out) - 1
        return out


def make(name: str, size: str, seed: int, work: str) -> Crawl:
    return Crawl(name, SIZES[size][name], seed, work)
