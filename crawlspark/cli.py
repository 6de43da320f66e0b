"""CLI parity with the reference binary (/root/reference/crawl.go:45-63):

  python -m crawlspark.cli spider config.json [--pages P --robots R]
                                  [--workdir W] [--warm PRIOR_W]
  python -m crawlspark.cli list   [-format=text|xml] config.json < urls
  python -m crawlspark.cli expire config.json workdir [url...] < urls
  python -m crawlspark.cli sitemap <url-or-path>
  python -m crawlspark.cli schema
  python -m crawlspark.cli version
  python -m crawlspark.cli help

`spider`/`list` run the Spark engine against a fixture web (parquet
pages/robots tables; the sandbox has no network) and stream NDJSON
Result rows to stdout in the deterministic (depth, priority, url)
order — the BigQuery-ingestable format of crawl.go:138-160. `list`
overrides From with stdin URLs and forces MaxDepth=0
(crawl.go:133-134). `schema` prints the BigQuery JSON schema
(crawl.go:67-70).

Re-crawl extension (no reference analog — the reference restarts from
scratch): `expire` removes URLs (args, else stdin lines) from a prior
crawl workdir's seen-set by staging tombstones in one snapshot commit
(the seen-filter bits are left as they are: an expired key only probes
"maybe seen" and the exact verify join lets it through, so any bloom_*
settings may run `expire`); `spider --warm PRIOR_W` then starts a
crawl whose seen-set is warm-started from that store, re-fetching
expired URLs when re-linked and skipping everything else seen. The
warm crawl must use the same seen-filter settings as the original
crawl (the bits layout is config-dependent).
"""

from __future__ import annotations

import json
import os
import sys

# reference version string (version/version.go:8) — `crawl version`
# prints it verbatim (crawl.go:72-74)
VERSION = "v0.2.0"


def _build_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName("crawlspark-cli")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _emit_ndjson(crawler) -> int:
    n = 0
    for row in crawler.results(ordered=True).toLocalIterator():
        d = row.asDict(recursive=True)
        for extra in ("Priority", "UrlKey", "Payload", "_wave", "_part"):
            d.pop(extra, None)
        # omitempty parity (result.go:20-42): drop nulls and empty arrays
        clean = {k: v for k, v in d.items() if v not in (None, [])}
        print(json.dumps(clean, separators=(",", ":")))
        n += 1
    return n


def _run_crawl(
    cfg,
    pages_path: str | None,
    robots_path: str | None,
    workdir: str | None = None,
    warm: str | None = None,
) -> int:
    from . import scratch
    from .engine import SparkCrawler
    from .testkit import matrix_site, pages_to_spark, robots_to_spark

    spark = _build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if pages_path and robots_path:
        pages_df = spark.read.parquet(pages_path)
        robots_df = spark.read.parquet(robots_path)
    else:
        # no network in this sandbox: default to the matrix fixture web
        pages_pdf, robots_pdf, _ = matrix_site()
        pages_df = pages_to_spark(spark, pages_pdf)
        robots_df = robots_to_spark(spark, robots_pdf)
    auto_workdir = workdir is None
    if auto_workdir:
        # NOT scratch.crawl_workdir(): that prints "kept on exit" —
        # wrong here, because the success path below deletes the dir
        # (code-review r05). The path is announced only on failure,
        # when there IS a checkpoint worth resuming.
        import tempfile

        wd = tempfile.mkdtemp(prefix="crawlspark-run-")
    else:
        wd = workdir
    try:
        # construction is inside the try too: it now runs Spark jobs
        # (the robots probe), and a failure there must not silently
        # leak the auto-created workdir (code-review r05 second pass)
        crawler = SparkCrawler(
            spark, cfg, pages_df, robots_df, workdir=wd, warm_store=warm
        )
        crawler.run()
        n = _emit_ndjson(crawler)
    except BaseException:
        if auto_workdir:
            print(
                f"crawlspark: workdir {wd} kept (interrupted/failed run; "
                "resume with --workdir)",
                file=sys.stderr,
            )
        raise
    if auto_workdir:
        # successful run, auto-created store: nothing to resume, so the
        # snapshot dir would just leak in /tmp (ADVICE r04; mirrors
        # submit_crawl.py). Kept on exception/interrupt — that is the
        # mid-wave checkpoint run(resume=True) needs.
        import shutil

        shutil.rmtree(wd, ignore_errors=True)
    return n


def main(argv: list[str] | None = None) -> int:
    from .config import CrawlConfig
    from .schema import bigquery_json

    argv = argv if argv is not None else sys.argv[1:]
    if not argv or argv[0] in ("help", "-h", "--help"):
        print(__doc__)
        return 0
    cmd, *rest = argv

    if cmd == "schema":
        print(bigquery_json())
        return 0

    if cmd == "version":
        # parity: crawl.go:56-59 + version/version.go:8
        print(VERSION)
        return 0

    if cmd == "sitemap":
        from . import sitemap

        src = rest[0]
        if src.startswith("http"):
            print("no network in this sandbox: pass a local sitemap path", file=sys.stderr)
            return 1
        # recursive expansion (crawl.go:175-216): index files expand to
        # page URLs via a local-file fetcher; child loc paths resolve
        # relative to the input file's directory (ADVICE r01). The
        # fetcher anchors to the FIRST host it sees and explicitly
        # skips (with a warning) cross-host or host-only child locs
        # instead of silently reading them from the local tree
        # (ADVICE r02).
        base_dir = os.path.dirname(os.path.abspath(src))
        anchor = {"host": None}

        def _local_fetch(loc: str) -> bytes | None:
            p = loc
            if "://" in p:
                host, _, path = p.split("://", 1)[1].partition("/")
                if anchor["host"] is None:
                    # EXPLICIT anchor rule: first loc of the root
                    # sitemap wins (announced, so a hostile ordering
                    # is at least visible — the sandbox fetcher has
                    # no out-of-band trust root to prefer)
                    anchor["host"] = host
                    print(f"sitemap: anchoring local fetch to host {host!r}",
                          file=sys.stderr)
                if host != anchor["host"]:
                    print(
                        f"sitemap: skipping cross-host loc {loc!r}"
                        f" (local fetcher anchored to {anchor['host']!r})",
                        file=sys.stderr,
                    )
                    return None
                if not path:
                    print(f"sitemap: skipping host-only loc {loc!r}", file=sys.stderr)
                    return None
                p = path
            if not os.path.isabs(p):
                p = os.path.join(base_dir, p)
            try:
                with open(p, "rb") as f:
                    return f.read()
            except OSError:
                return None

        urls = sitemap.fetch_all(src, lambda loc: _local_fetch(loc))
        for u in urls:
            print(u)
        return 0

    if cmd == "expire":
        from .engine import SparkCrawler
        from .schema import PAGE_SCHEMA, ROBOTS_FIXTURE_SCHEMA

        with open(rest[0]) as f:
            cfg = CrawlConfig.from_json(f.read())
        workdir = rest[1]
        urls = rest[2:] or [u for u in sys.stdin.read().split() if u]
        if not urls:
            print("expire: no URLs given (args or stdin)", file=sys.stderr)
            return 1
        spark = _build_spark()
        spark.sparkContext.setLogLevel("ERROR")
        # expire only writes tombstones to the store; the fetch
        # interface is unused, so empty pages/robots frames suffice
        crawler = SparkCrawler(
            spark, cfg,
            spark.createDataFrame([], PAGE_SCHEMA),
            spark.createDataFrame([], ROBOTS_FIXTURE_SCHEMA),
            workdir=workdir,
        )
        print(json.dumps(crawler.expire(urls)))
        return 0

    if cmd in ("spider", "list"):
        fmt = "text"
        rest = [a for a in rest if not (a.startswith("-format=") and (fmt := a.split("=")[1]))]
        pages_path = robots_path = workdir = warm = None
        cleaned = []
        it = iter(rest)
        for a in it:
            if a == "--pages":
                pages_path = next(it)
            elif a == "--robots":
                robots_path = next(it)
            elif a == "--workdir":
                workdir = next(it)
            elif a == "--warm":
                warm = next(it)
            else:
                cleaned.append(a)
        with open(cleaned[0]) as f:
            cfg = CrawlConfig.from_json(f.read())
        if cmd == "list":
            from . import sitemap

            stdin = sys.stdin.read()
            queue = sitemap.parse(stdin) if fmt == "xml" else sitemap.list_from_text(stdin)
            cfg.From = queue
            cfg.MaxDepth = 0  # crawl.go:133-134
        _run_crawl(cfg, pages_path, robots_path, workdir=workdir, warm=warm)
        return 0

    print(f"unknown command {cmd!r}", file=sys.stderr)
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
