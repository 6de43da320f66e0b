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
    bloom_bits_per_shard: int = 1 << 20
    bloom_shards: int = 32
    bloom_min_seen: int = 100_000  # activate the prefilter only once the
    # seen-set (frontier rows + warm seen-set) reaches this many rows
    # (one-time backfill mark): below it the exact anti-join is cheaper
    # than the probe/mark jobs the bloom adds per wave; at 10^8+ seen
    # rows the prefilter is the win. A value no crawl reaches keeps it
    # off; a warm start from a store with bits copies them regardless
    per_host_budget: int | None = None  # max fetches per host per wave (None = unlimited)
    # budgeted waves re-rank + stage the deferred remainder per
    # sub-wave; a rank-once plan (stage the whole politeness plan once
    # per wave) measured neutral and was removed (BASELINE.md r8:
    # 1,742 vs 1,749 URLs/s serial, 5,075 vs 5,296 on 8 cores)
    pacing_enabled: bool = False  # real sleeps in the fetch stage (off in tests)
    detailed_metrics: bool = True  # per-wave candidate counts (extra job; bench turns off)
    parse_partitions: int | None = None  # row-parallelism CAP of the parse
    # stage; None -> shuffle_partitions. CPU-bound Python stages balance
    # best at ~2-3 tasks/core on BIG waves (measured +20-40% on the wide
    # drain at local[32]), but each Arrow task carries fixed overhead, so
    # small waves want FEWER tasks: the engine scales the actual count as
    # clamp(rows / engine.PARSE_ROWS_PER_TASK, shuffle_partitions, this
    # cap) (measured: the 15.7k-URL deep drain runs ~25% faster at 32
    # parse partitions than at the wide drain's optimal 96).
    # The fixed tuning numbers (seen buckets, the bucketed-seen switch
    # SEEN_BUCKETED_ROWS, fetch-broadcast rows, parse rows per task,
    # hot-host salt threshold, robots collect bounds) are module
    # constants in engine.py, not settings.

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
