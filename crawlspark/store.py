"""Snapshot table store — the Iceberg-shaped persistence substrate.

The north rule asks for Iceberg tables with per-wave snapshots,
per-partition lineage and resumability. This container has no Iceberg
runtime jars, so ``SnapshotStore`` implements the same contract on
plain parquet + JSON manifests — the ONLY backend here. A real Iceberg
backend would slot in behind the same interface: ``stage`` -> append
files to a staged snapshot, ``commit_wave`` -> snapshot commit,
``slices`` -> the snapshot's file listing per table, ``read_slices`` /
``read`` -> a scan of those files under the table's recorded schema.

- every table lives at ``<root>/<table>/wave=<d>/part-*.parquet``;
- a wave COMMIT is the atomic rename of
  ``<root>/_manifests/.wave-<d>.json.tmp`` -> ``wave-<d>.json``
  listing, per table, the files + row counts + per-partition lineage
  (spark partition id -> rows) and the wave metrics;
- ``last_complete_wave()`` + ``truncate_after()`` give mid-crawl
  resume: an interrupted wave leaves no manifest, its orphan files
  are removed on resume (SURVEY.md §7.1 step 8, north_rule
  resumability clause).

This module is the one place that lists and reads committed slices.
Reads cover the manifest-listed files only — uncommitted data is
invisible, which is the Iceberg snapshot isolation property this
stands in for. The schema comes from the files, as Iceberg's comes
from its table metadata: Spark's writer records the row schema in
every parquet footer (``SPARK_SCHEMA_KEY``) and ``read_slices`` hands
it to the reader, so no read runs a schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["SnapshotStore"]

# footer key under which Spark's parquet writer records the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str, codec: str = "zstd"):
        self.spark = spark
        self.root = root
        # zstd by default (writer-knob A/B, BENCH.md round 7): on the
        # hydrated 200k-row results slice it writes AND reads back at
        # snappy speed while emitting 2.9x fewer bytes (24 vs 69 MB) —
        # at 100 TB the written-byte count is a first-order cost on
        # the product path (the reference's NDJSON emit analogue,
        # crawl.go:147-150).
        self.codec = codec
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)
        self._pending: dict[str, dict] = {}
        # stage() may be called from two driver threads at once (the
        # budgeted wave overlaps the results and deferred-slice writes
        # — engine._run_wave); guard the pending-table registry
        import threading

        self._lock = threading.Lock()

    # ---- write path ----

    def stage(
        self,
        table: str,
        df: DataFrame,
        wave: int,
        manifest_wave: int | None = None,
    ) -> dict:
        """Write one table's wave slice; returns lineage info. Not
        visible to readers until commit_wave(). ``manifest_wave`` lets
        a slice physically labeled wave=d+1 (e.g. the next frontier)
        be committed atomically with wave d's manifest. A slice staged
        as ``<table>_sub<k>`` (a politeness sub-wave's results) is
        listed by ``slices(<table>)`` after the manifest's own
        ``<table>`` slice."""
        path = os.path.join(self.root, table, f"wave={wave}")
        with_lineage = df.withColumn("_wave", F.lit(wave)).withColumn(
            "_part", F.spark_partition_id()
        )
        with_lineage.write.mode("overwrite").option(
            "compression", self.codec
        ).parquet(path)
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        # per-partition lineage from parquet footers — no Spark job
        part_counts = {
            os.path.basename(f).split("-")[1]: pq.ParquetFile(f).metadata.num_rows
            for f in files
        }
        rows = sum(part_counts.values())
        info = {"path": path, "files": sorted(files), "rows": rows, "partitions": part_counts}
        mw = wave if manifest_wave is None else manifest_wave
        with self._lock:
            self._pending.setdefault(f"wave-{mw}", {})[table] = info
        return info

    def commit_wave(self, wave: int, metrics: dict | None = None, part: int | None = None) -> str:
        """Atomic manifest commit. With ``part`` set this is a MID-WAVE
        checkpoint: it snapshots the tables staged so far for this wave
        (without consuming them) so an interrupted wave can resume from
        its last completed politeness subwave; the eventual full commit
        supersedes and removes the part manifests."""
        key = f"wave-{wave}"
        with self._lock:
            if part is not None:
                tables = dict(self._pending.get(key, {}))
                name = f"{key}.part{part}.json"
            else:
                tables = self._pending.pop(key, {})
                name = f"{key}.json"
        manifest = {
            "wave": wave,
            "part": part,
            "committed_at": time.time(),
            "tables": tables,
            "metrics": metrics or {},
        }
        tmp = os.path.join(self.manifest_dir, f".{name}.tmp")
        final = os.path.join(self.manifest_dir, name)
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, final)  # atomic commit
        if part is None:
            for p in self._part_files(wave):
                os.remove(p)
        return final

    def _part_files(self, wave: int) -> list[str]:
        pre = f"wave-{wave}.part"
        return sorted(
            os.path.join(self.manifest_dir, n)
            for n in os.listdir(self.manifest_dir)
            if n.startswith(pre) and n.endswith(".json")
        )

    def restore_pending(self, wave: int, tables: dict) -> None:
        """Re-register table slices from a part manifest so the wave's
        eventual full commit includes them (resume path)."""
        with self._lock:
            self._pending.setdefault(f"wave-{wave}", {}).update(tables)

    def parts(self, wave: int) -> list[dict]:
        """Mid-wave part manifests for ``wave``, ordered by part."""
        out = []
        for p in self._part_files(wave):
            with open(p) as f:
                out.append(json.load(f))
        return sorted(out, key=lambda m: m["part"])

    # ---- read path ----

    def _manifests(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.startswith("wave-") and name.endswith(".json") and ".part" not in name:
                with open(os.path.join(self.manifest_dir, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["wave"])

    def last_complete_wave(self) -> int | None:
        ms = self._manifests()
        return ms[-1]["wave"] if ms else None

    def slices(self, table: str) -> list[tuple[int, dict]]:
        """Committed slices of ``table`` as [(manifest_wave, info)] in
        wave order; within a manifest, in staging order (``<table>``,
        then its sub-wave slices ``<table>_sub<k>`` by k)."""
        return [
            (m["wave"], info)
            for m in self._manifests()
            for t, info in m["tables"].items()
            if t == table or t.startswith(f"{table}_sub")
        ]

    def read_slices(self, infos: list[dict]) -> DataFrame | None:
        """One scan over the files of the given slices (staged or
        committed ``stage()`` infos), under the schema recorded in the
        first file's footer; None when ``infos`` lists no file."""
        files = [f for info in infos for f in info["files"]]
        if not files:
            return None
        meta = pq.read_schema(files[0]).metadata or {}
        if SPARK_SCHEMA_KEY not in meta:
            raise ValueError(
                f"{files[0]}: parquet footer has no Spark row schema "
                f"({SPARK_SCHEMA_KEY.decode()}) — not a file stage() wrote"
            )
        schema = T.StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
        return self.spark.read.schema(schema).parquet(*files)

    def read(self, table: str, up_to: int | None = None) -> DataFrame | None:
        """Read committed data only (snapshot isolation): every slice
        of ``table`` in manifests up to ``up_to``."""
        return self.read_slices(
            [info for w, info in self.slices(table) if up_to is None or w <= up_to]
        )

    def metrics(self) -> list[dict]:
        return [{"wave": m["wave"], **m["metrics"]} for m in self._manifests()]

    # ---- resume path ----

    def truncate_after(self, wave: int) -> None:
        """Drop uncommitted wave data newer than `wave` — called on
        resume after an interruption. Part manifests of wave+1 (the
        interrupted wave's mid-wave checkpoints) are KEPT so the wave
        resumes from its last completed politeness subwave."""
        for name in list(os.listdir(self.manifest_dir)):
            if not (name.startswith("wave-") and name.endswith(".json")):
                continue
            stem = name[len("wave-") : -len(".json")]
            if ".part" in stem:
                w = int(stem.split(".part")[0])
                if w != wave + 1:
                    os.remove(os.path.join(self.manifest_dir, name))
                continue
            w = int(stem)
            if w > wave:
                os.remove(os.path.join(self.manifest_dir, name))
        kept = set()
        for m in self._manifests() + self.parts(wave + 1):
            for info in m["tables"].values():
                kept.add(os.path.normpath(info["path"]))
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if table == "_manifests" or not os.path.isdir(tdir):
                continue
            for sub in list(os.listdir(tdir)):
                p = os.path.normpath(os.path.join(tdir, sub))
                if sub.startswith("wave=") and p not in kept:
                    shutil.rmtree(p)
