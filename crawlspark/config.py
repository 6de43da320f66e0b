"""Crawl configuration — JSON-over-defaults parity with the reference
(/root/reference/crawler/config.go:11-37) plus Spark-engine knobs.

Validation split mirrors the reference tests (config_test.go:8-37):
ill-formed JSON fails at load (``from_json``); an unparseable
WaitTime/Timeout duration fails at ``validate()`` (the reference's
``Start()``, crawler.go:118-124).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

__all__ = ["CrawlConfig", "parse_duration"]

_DUR_RE = re.compile(r"([+-]?\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")
_DUR_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_duration(s: str) -> float:
    """Go time.ParseDuration subset -> seconds. Raises ValueError on
    garbage (parity: crawler.go:118-124 errors at Start)."""
    if not isinstance(s, str) or not s:
        raise ValueError(f"invalid duration {s!r}")
    if s in ("0", "+0", "-0"):
        return 0.0
    total = 0.0
    pos = 0
    for m in _DUR_RE.finditer(s):
        if m.start() != pos:
            raise ValueError(f"invalid duration {s!r}")
        total += float(m.group(1)) * _DUR_UNITS[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise ValueError(f"invalid duration {s!r}")
    return total


@dataclass
class CrawlConfig:
    # --- reference-parity fields (config.go:11-21 defaults) ---
    Connections: int = 1
    UserAgent: str = "Crawler/0.2.0 (PySpark rebuild)"
    RobotsUserAgent: str = "Crawler"
    Include: list = field(default_factory=list)
    Exclude: list = field(default_factory=list)
    From: list = field(default_factory=list)
    RespectNofollow: bool = False
    MaxDepth: int = 0
    WaitTime: str = "100ms"
    Timeout: str = "30s"
    Header: list = field(default_factory=list)  # [{"K":..,"V":..}]

    # --- Spark-engine knobs (not in the reference) ---
    canon_mode: str = "go-parity"  # or "extended"
    shuffle_partitions: int = 32
    bloom_prefilter: bool = True
    bloom_bits_per_shard: int = 1 << 20
    bloom_shards: int = 32
    bloom_min_seen: int = 100_000  # activate the prefilter only once the
    # seen-set crosses this many rows (one-time backfill mark): below it
    # the exact anti-join is cheaper than the probe/mark jobs the bloom
    # adds per wave; at 10^8+ seen rows the prefilter is the win
    seen_layout: str = "slices"  # where the verify join reads the seen
    # history from (VERDICT r07 #2). "slices" (default) = union of the
    # committed frontier parquet slices, verified by an anti-join —
    # the fastest measured shape on local/single-node at every seen
    # size (seen_scan_bench part A: in-memory shuffle ≈ memcpy, so the
    # SMJ's seen shuffle costs less than a semi join's extra job; the
    # slice-layout semi shape measured ~20% slower and was removed,
    # BENCH.md r8). "bucketed" = a catalog table
    # of (url_key, m) bucketed on url_key, rebuilt from committed
    # slices on first use per run and appended per wave: the verify
    # join then runs as a shuffled-hash semi join building on the
    # wave-bounded side, so the seen history is never exchanged OR
    # sorted at ANY size — measured flat in seen size
    # (scripts/seen_scan_bench.py: 1.04 s at 8M -> 1.09 s at 32M seen
    # keys vs 1.12 -> 2.89 for the slice anti-join). The table is a
    # cache; exactness never depends on it (reads filter to committed
    # manifest waves, rebuild-on-first-use absorbs crashes/expiry).
    # Output identical across both, pinned by test_seen_layout_bucketed_*.
    seen_buckets: int = 32  # bucket count for seen_layout="bucketed"
    per_host_budget: int | None = None  # max fetches per host per wave (None = unlimited)
    # budgeted waves re-rank + stage the deferred remainder per
    # sub-wave; a rank-once plan (stage the whole politeness plan once
    # per wave) measured neutral and was removed (BASELINE.md r8:
    # 1,742 vs 1,749 URLs/s serial, 5,075 vs 5,296 on 8 cores)
    fetch_broadcast_rows: int = 500_000  # politeness sub-waves >= 1 are
    # all-allowed, so their fetch join is INNER and can build on the
    # frontier-slice side (r9): slices at or under this row count are
    # hint-broadcast so the pages corpus is never exchanged or sorted
    # for a small deferred slice (a left join can't broadcast its
    # preserved side — the measured 3.4 s/sub-wave fixed term). Bigger
    # slices fall back to AQE's plan; at 10^10 frontier rows the
    # bucketed pages corpus is the shape that avoids the shuffle.
    hot_host_salt_threshold: int = 10_000  # rows/host above which to salt-split
    # exact-cap politeness (VERDICT r04 #5, opt-in): distribute the
    # budget remainder across salt slices (slice i gets b//n + (i in
    # the rotating remainder window)) so a sub-wave's per-host take is
    # <= budget EXACTLY even under salt-split. Default (False) keeps
    # the r04 pacing behavior: ceil(budget/n) per slice can over-admit
    # up to n-1 rows per hot host per sub-wave.
    per_host_budget_exact: bool = False
    pacing_enabled: bool = False  # real sleeps in the fetch stage (off in tests)
    detailed_metrics: bool = True  # per-wave candidate counts (extra job; bench turns off)
    robots_broadcast: bool = True  # hint broadcast for the rules join; False at 10^7+ hosts
    # collect the robots table into a Python-side broadcast dict when
    # it has at most this many rows (bounded probe at construction),
    # replacing the per-wave rules join + JVM broadcast build with a
    # closure lookup inside the one gate UDF (r05, VERDICT r04 #4 —
    # ~0.2-0.3 s/wave of fixed broadcast-job cost on small-wave
    # crawls). 0 disables; large robots tables keep the join, which
    # is the 10^7-host scale path. Both bounds must pass: row count
    # AND total robots-body bytes (code-review r05 — 50k rows of
    # 500KB bodies would be a 20GB+ driver collect).
    robots_local_threshold: int = 50_000
    robots_local_max_bytes: int = 64 * 1024 * 1024
    # (AQE still picks broadcast when the rules table is small enough)
    parse_partitions: int | None = None  # row-parallelism CAP of the parse
    # stage; None -> shuffle_partitions. CPU-bound Python stages balance
    # best at ~2-3 tasks/core on BIG waves (measured +20-40% on the wide
    # drain at local[32]), but each Arrow task carries fixed overhead, so
    # small waves want FEWER tasks: the engine scales the actual count as
    # clamp(rows / parse_rows_per_task, shuffle_partitions, this cap)
    # (measured: the 15.7k-URL deep drain runs ~25% faster at 32 parse
    # partitions than at the wide drain's optimal 96).
    parse_rows_per_task: int = 512  # target rows per parse task

    @classmethod
    def from_json(cls, text: str) -> "CrawlConfig":
        data = json.loads(text)  # ill-formed JSON raises here (load-time)
        cfg = cls()
        for k, v in data.items():
            if hasattr(cfg, k):
                setattr(cfg, k, v)
        return cfg

    def validate(self) -> "CrawlConfig":
        """Start-time validation (duration parsing, parity with
        crawler.go:115-124)."""
        self.wait_seconds = parse_duration(self.WaitTime)
        self.timeout_seconds = parse_duration(self.Timeout)
        if self.Connections < 1:
            self.Connections = 1
        return self
