"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload deep_polite --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` reports the end-to-end
metrics named in BENCHMARK.json; ``--trace 1`` is the separate traced
run that reports the per-layer metrics, including its own overhead
against an untraced phase in the same process. A line before the result
records the box (cores, memory) and the full Spark configuration used.
Scratch files live under ``.perfbench/`` in the repository root and
are removed when the run ends, except the traced run's span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


SETUP_REPS = 3  # input set-ups behind setup_s's median


def per_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def layer_workloads() -> dict[str, list[str]]:
    """Per-layer metric name -> the workloads that must report it."""
    with open(os.path.join(HERE, "layers.json")) as f:
        return {k: v["workloads"] for k, v in json.load(f).items()}


def layer_metrics(workload: str, layers: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json as (value, unit). A
    metric the workload must report and did not fails the run; one
    that does not apply to the workload reads 0."""
    spec = per_layer_spec()
    owners = layer_workloads()
    missing = [m["name"] for m in spec
               if workload in owners[m["name"]] and m["name"] not in layers]
    if missing:
        raise RuntimeError(f"{workload}: per-layer metrics not measured: {missing}")
    return {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"]) for m in spec}


def timed_loop(wl, spark, tracer, checks, seconds: float) -> list[dict]:
    """Closed loop: start the next drain while the window has time
    left, dropping each drain's store once the next one has run."""
    recs = []
    start = time.perf_counter()
    while not recs or time.perf_counter() - start < seconds:
        recs.append(wl.op(spark, tracer, checks))
        if len(recs) > 1:
            wl.drop(recs[-2])
    return recs


def phase(wl, conf, checks, seconds, tracer, reps, warmups):
    """One session: set-up (session start, then ``reps`` input set-ups:
    read the corpus, construct the crawler; the first also runs the
    session's first Spark jobs), ``warmups`` untimed full-size drains,
    then the timed loop. Returns the session, a dict of set-up times
    and the timed drain records."""
    from perfbench import workloads

    t = time.perf_counter()
    spark = workloads.start_session(conf)
    session_s = time.perf_counter() - t
    inputs = []
    for _ in range(reps):
        t = time.perf_counter()
        crawler = wl.new_crawler(spark)
        inputs.append(time.perf_counter() - t)
        shutil.rmtree(crawler.workdir, ignore_errors=True)
    t = time.perf_counter()
    for _ in range(warmups):
        wl.drop(wl.op(spark, tracer, checks))
    setup = {"session_s": session_s, "inputs_s": inputs,
             "warmup_s": time.perf_counter() - t}
    return spark, setup, timed_loop(wl, spark, tracer, checks, seconds)


def stop_jvm() -> None:
    """Stop any live SparkContext, then end the JVM the session started
    (it exits when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    t = time.perf_counter()
    try:
        import __spark_entry__  # noqa: F401
        import crawlspark.engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the crawlspark sources are not here ({e})", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of the run (Spark local dirs, Python and JVM
    # temp files, crawl stores) stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    try:
        result = run(args, work, import_s)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, import_s: float) -> dict:
    from perfbench import trace, workloads

    checks = workloads.Checks()
    t = time.perf_counter()
    wl = workloads.make(args.workload, args.size, args.seed, work)
    gen_s = time.perf_counter() - t
    conf = workloads.spark_conf(work)
    info = {"workload": args.workload, "seed": args.seed, "size": args.size,
            "box": workloads.box(), "spark_conf": conf,
            "java_tool_options": os.environ["JAVA_TOOL_OPTIONS"],
            "corpus_gen_s": round(gen_s, 3)}

    seconds = args.seconds / (2 if args.trace else 1)
    spark, setup, recs = phase(
        wl, conf, checks, seconds, trace.Tracer(enabled=False), SETUP_REPS, wl.warmups)
    info["setup"] = {"import_s": import_s, **setup}
    info["drains_s"] = [round(r["wall"], 4) for r in recs]
    urls_per_s = statistics.median(r["fetched"] / r["wall"] for r in recs)
    peak_rss_mb = workloads.jvm_peak_rss_mb(spark)

    if not args.trace:
        wl.gate(spark, recs[-1], checks)
        last = recs[-1]
        metrics = {
            "setup_s": (statistics.median(setup["inputs_s"]), "s"),
            "urls_per_s": (urls_per_s, "1/s"),
            "store_bytes_per_url": (
                workloads.dir_stats(last["crawler"].workdir)[1] / last["fetched"], "bytes"),
        }
    else:
        # the traced phase: a second session with the event log on and
        # spans around every call; the JVM is already up and warm, so
        # one warm-up drain covers the new session
        spark.stop()
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir)
        tconf = workloads.spark_conf(work, event_log_dir=ev_dir)
        info["spark_conf_traced"] = tconf
        tracer = trace.Tracer()
        spark, _, trecs = phase(wl, tconf, checks, seconds, tracer, reps=1, warmups=1)
        info["traced_drains_s"] = [round(r["wall"], 4) for r in trecs]
        layers = wl.layers(spark, trecs, tracer, checks)
        wl.gate(spark, trecs[-1], checks)
        spark.stop()
        op_spans = tracer.named("engine.run")[-len(trecs):]
        folded = trace.fold_jobs(trace.read_event_log(ev_dir), op_spans)
        per_op = [folded[s["id"]] for s in op_spans]

        def med(key, scale=1.0):
            return statistics.median(p[key] * scale for p in per_op)

        traced_urls_per_s = statistics.median(r["fetched"] / r["wall"] for r in trecs)
        layers.update({
            "spark.jobs": med("jobs"), "spark.stages": med("stages"),
            "spark.tasks": med("tasks"), "spark.task_s": med("task_s"),
            "spark.shuffle_write_mb": med("shuffle_write_b", 1 / 2**20),
            "spark.spill_mb": med("spill_b", 1 / 2**20),
            "spark.task_skew": med("task_skew"),
            "jvm.peak_rss_mb": peak_rss_mb,
            "setup.first_s": import_s + setup["session_s"] + setup["inputs_s"][0],
            "setup.warmup_s": setup["warmup_s"],
            "trace.urls_per_s": traced_urls_per_s,
            "trace.untraced_urls_per_s": urls_per_s,
            "trace.overhead_pct": 100.0 * (urls_per_s / traced_urls_per_s - 1.0),
        })
        tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(args.workload, layers)
    info["checks"] = {"attempted": checks.attempted, "failed": checks.failed,
                      "reasons": checks.reasons}
    info["process_s"] = round(time.perf_counter() - T_PROCESS, 3)
    print(json.dumps(info))
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
