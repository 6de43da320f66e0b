"""Self-test of the benchmark: tiny-size runs emit every named metric
with its unit, and the correctness gates reject corrupted results.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_emitted(workload):
    out = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics_emitted(workload):
    out = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] >= m["spark.stages"] > 0
    assert m["engine.waves"] >= 2 and m["htmlex.extract_us"] > 0
    if workload == "wide_payload":
        assert m["imagecodec.decode_us"] > 0 and m["query.samples"] == 10
    else:
        assert m["engine.enqueue_ratio"] < 1.0 and m["engine.bloom_s"] > 0


def test_layer_table_covers_every_per_layer_metric():
    with open(os.path.join(HERE, "layers.json")) as f:
        table = json.load(f)
    assert set(table) == {m["name"] for m in SPEC["per_layer"]}
    names = {w["name"] for w in SPEC["workloads"]}
    for row in table.values():
        assert set(row) == {"how", "workloads", "should_move", "flat_on"}
        assert set(row["workloads"]) <= names


def test_a_missing_layer_fails_the_run():
    from perfbench import run

    layers = {m["name"]: 1.0 for m in SPEC["per_layer"]}
    assert run.layer_metrics("deep_polite", layers)["engine.bloom_s"] == (1.0, "s")
    del layers["engine.fetch_parse_s"]
    with pytest.raises(RuntimeError, match="engine.fetch_parse_s"):
        run.layer_metrics("deep_polite", layers)
    # not measured on wide_payload: reads 0 there
    del layers["engine.bloom_s"]
    layers["engine.fetch_parse_s"] = 1.0
    assert run.layer_metrics("wide_payload", layers)["engine.bloom_s"] == (0.0, "s")


def test_fails_without_program_sources(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout == ""


# --- the gates, fed corrupted results ---------------------------------------


def test_same_rows_rejects_a_dropped_or_changed_row():
    cols = ["a", "b"]
    rows = [(1, "x"), (2, "y"), (3, 0.5)]
    assert workloads.same_rows(cols, rows, ["B", "A"], [(r[1], r[0]) for r in rows])
    assert not workloads.same_rows(cols, rows[:-1], cols, rows)
    assert not workloads.same_rows(cols, rows[:-1] + [(3, 0.5000001)], cols, rows)
    assert not workloads.same_rows(cols, rows, ["a", "c"], rows)


def _oracle_crawl():
    from crawlspark import oracle
    from crawlspark.config import CrawlConfig

    web = corpus.Web(5, 3, 3, 2, 2, backlinks=True)
    cfg = CrawlConfig(From=web.seeds, MaxDepth=2)
    out = oracle.crawl_oracle(cfg, {p["url"]: p for p in web.pages},
                              {(s, h): (c, b) for h, s, c, b in web.robots})
    rows = [{**res, "Priority": p, "UrlKey": k} for _, p, k, res in sorted(
        out[0], key=lambda t: t[:3])]
    return out, rows


def test_crawl_gate_accepts_the_oracle_and_rejects_corruptions():
    out, rows = _oracle_crawl()
    seen = set(out[1])
    assert workloads.crawl_matches_oracle(rows, seen, out) == []
    assert workloads.crawl_matches_oracle(rows[:-1], seen, out)  # a dropped row
    assert workloads.crawl_matches_oracle(rows, seen - {rows[-1]["UrlKey"]}, out)
    swapped = rows[:1] + rows[2:3] + rows[1:2] + rows[3:]
    assert workloads.crawl_matches_oracle(swapped, seen, out)  # order broken


def test_phash16_is_imagecodec_phash64():
    from crawlspark import imagecodec

    for k in range(300):
        arr = imagecodec.synth_image(f"w1-h{k % 7:04d}.test/{k}", 16, 16)
        assert corpus.phash16(arr) == imagecodec.phash64(arr)


def test_corpus_is_seeded_and_verified(tmp_path):
    a = corpus.Web(7, 3, 3, 1, 2, images=True).write(str(tmp_path / "a"))
    b = corpus.Web(7, 3, 3, 1, 2, images=True).write(str(tmp_path / "b"))
    c = corpus.Web(8, 3, 3, 1, 2, images=True).write(str(tmp_path / "c"))
    assert a["pages"]["sha256"] == b["pages"]["sha256"] != c["pages"]["sha256"]
    corpus.verify_parquet(a["images"])
    import pyarrow.parquet as pq

    t = pq.read_table(a["pages"]["path"])
    pq.write_table(t.slice(0, t.num_rows - 1), a["pages"]["path"])  # drop one row
    with pytest.raises(ValueError):
        corpus.verify_parquet(a["pages"])
