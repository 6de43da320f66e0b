"""Sharded bloom URL-seen prefilter (SURVEY.md A7/§4, north_rule).

Role: the EXACT seen-set lives in the ``seen`` table and exactness
comes from a left-anti join against it. The bloom filter is a
shuffle-volume optimization only: a candidate whose bits say
"definitely not seen" can bypass the anti-join probe entirely; a
"maybe seen" candidate still gets verified exactly, so bloom false
positives can never drop URLs (SURVEY.md §7.4.1). For the same reason
bits are never cleared: re-crawl expiry only tombstones keys in the
exact seen-set, and an expired key's stale bits cost one verify row.

Sharding: shard id = pmod(murmur3(url_key), n_shards). Membership
and update run as a **cogroup** of (candidates by shard) with
(bloom-bits by shard) via ``applyInPandas`` — each task touches only
its own shard's bits, so at 10^10 URLs (~15 GiB of bits at 10 bits/
key) no single executor ever holds the whole filter and no driver
collect happens. Bits persist to the SnapshotStore per wave, making
the filter resumable alongside the frontier.

Probe positions are derived from the JVM-computed xxhash64 column via
splitmix64 mixing in vectorized numpy — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["BloomConfig", "empty_bits_df", "mark", "probe"]


class BloomConfig:
    def __init__(self, n_shards: int = 32, bits_per_shard: int = 1 << 20, n_hashes: int = 5):
        self.n_shards = n_shards
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes


BITS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)


def empty_bits_df(spark, cfg: BloomConfig) -> DataFrame:
    """One all-zero bits row per shard, built in the JVM: no Python
    worker stage and no pickled per-shard rows (the zero bytes fold
    into one constant)."""
    return spark.range(cfg.n_shards).select(
        F.col("id").cast("int").alias("shard"),
        F.unhex(F.repeat(F.lit("00"), cfg.bits_per_shard // 8)).alias("bits"),
    )


def _positions(h64: np.ndarray, n_hashes: int, m_bits: int) -> np.ndarray:
    """k probe positions per key from one 64-bit hash (splitmix64
    remix per probe). Returns (n, k) int64 array of bit positions."""
    h = h64.astype(np.uint64)
    out = np.empty((len(h), n_hashes), dtype=np.int64)
    x = h.copy()
    golden = np.uint64(0x9E3779B97F4A7C15)
    for i in range(n_hashes):
        x = x + golden
        z = x.copy()
        z ^= z >> np.uint64(30)
        z = z * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z = z * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        out[:, i] = (z % np.uint64(m_bits)).astype(np.int64)
    return out


def with_shard_cols(df: DataFrame, url_col: str, cfg: BloomConfig) -> DataFrame:
    """Two independent JVM-side hashes per URL (north_rule: murmur3-
    hashed URLs): F.hash IS Spark's Murmur3_x86_32; xxhash64 supplies
    the second stream for double hashing. Shard id comes from the
    murmur3 value so the shard layout is the murmur3 partitioning."""
    h1 = F.hash(F.col(url_col)).cast("long")  # murmur3_x86_32
    h2 = F.xxhash64(F.col(url_col))
    return (
        df.withColumn("_h64", (F.shiftleft(h1, 32)).bitwiseOR(h2.bitwiseAND(F.lit(0xFFFFFFFF))))
        .withColumn("_shard", F.pmod(h1, F.lit(cfg.n_shards)).cast("int"))
    )


def probe(candidates: DataFrame, bits_df: DataFrame, url_col: str, cfg: BloomConfig) -> DataFrame:
    """Adds boolean ``_maybe_seen``. Distributed per-shard cogroup."""
    from .shipping import ensure_shipped_df

    ensure_shipped_df(candidates)  # _probe refs module helpers; see shipping.py
    cand = with_shard_cols(candidates, url_col, cfg)
    out_schema = T.StructType(cand.schema.fields + [T.StructField("_maybe_seen", T.BooleanType())])
    n_hashes, m_bits = cfg.n_hashes, cfg.bits_per_shard

    def _probe(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty:
            return cdf.assign(_maybe_seen=pd.Series(dtype=bool))
        if bdf.empty:
            return cdf.assign(_maybe_seen=False)
        bits = np.frombuffer(bdf["bits"].iloc[0], dtype=np.uint8)
        pos = _positions(cdf["_h64"].to_numpy(), n_hashes, m_bits)
        hit = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return cdf.assign(_maybe_seen=hit.all(axis=1))

    return (
        cand.groupBy("_shard")
        .cogroup(bits_df.groupBy("shard"))
        .applyInPandas(_probe, out_schema)
    )


def mark(new_urls: DataFrame, bits_df: DataFrame, url_col: str, cfg: BloomConfig) -> DataFrame:
    """Returns the updated bits table (all shards, including untouched
    ones) after setting the bits of every url in ``new_urls``."""
    from .shipping import ensure_shipped_df

    ensure_shipped_df(new_urls)  # _mark refs module helpers; see shipping.py
    urls = with_shard_cols(new_urls.select(url_col), url_col, cfg)
    n_hashes, m_bits = cfg.n_hashes, cfg.bits_per_shard

    def _mark(udf_: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if bdf.empty:
            if udf_.empty:
                return pd.DataFrame({"shard": [], "bits": []}).astype({"shard": "int32"})
            shard = int(udf_["_shard"].iloc[0])
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
        else:
            shard = int(bdf["shard"].iloc[0])
            bits = np.frombuffer(bdf["bits"].iloc[0], dtype=np.uint8).copy()
        if not udf_.empty:
            pos = _positions(udf_["_h64"].to_numpy(), n_hashes, m_bits).ravel()
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame({"shard": [shard], "bits": [bits.tobytes()]})

    return (
        urls.groupBy("_shard")
        .cogroup(bits_df.groupBy("shard"))
        .applyInPandas(_mark, BITS_SCHEMA)
    )
