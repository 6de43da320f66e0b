"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed and the size knobs, and
runs in the benchmark process without Spark, so its cost is never part
of a timed region or of ``setup_s``. Each writer returns the row count
and a content hash, and ``verify_parquet`` re-reads the written files
and checks both, so a run never trusts a corpus it did not just check.

Crawl webs are digit trees per host built from ``testkit.page_row``
(the same page renderer as ``crawlspark.benchgen``): host ``hot`` has
``hot_factor`` times the branching, so the closed-form fetch count is
``benchgen.expected_counts`` whichever host the seed makes hot.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crawlspark import imagecodec, testkit
from crawlspark.schema import IMAGE_SCHEMA, PAGE_SCHEMA


def _arrow_schema(spark_schema) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _digest(rows: list[dict], cols: list[str]) -> str:
    h = hashlib.sha256()
    for r in rows:
        for c in cols:
            v = r[c]
            h.update(repr(v).encode() if not isinstance(v, bytes) else v)
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def _write(rows: list[dict], schema: pa.Schema, path: str) -> dict:
    """Write ``rows`` as one parquet file; return its count and hash."""
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path)
    return {"path": path, "rows": len(rows), "sha256": _digest(rows, schema.names)}


def verify_parquet(info: dict) -> None:
    """Re-read a written corpus file and check its row count and hash."""
    table = pq.read_table(info["path"])
    rows = table.to_pylist()
    if len(rows) != info["rows"]:
        raise ValueError(f"{info['path']}: {len(rows)} rows, wrote {info['rows']}")
    if _digest(rows, table.schema.names) != info["sha256"]:
        raise ValueError(f"{info['path']}: content hash differs from the one written")


# ---------------------------------------------------------------------------
# crawl webs


class Web:
    """A generated crawl corpus: page (and image) rows plus the robots
    table and seed list that go with them."""

    def __init__(self, seed: int, n_hosts: int, branching: int, depth: int,
                 hot_factor: int, *, images: bool = False, backlinks: bool = False):
        rng = random.Random(seed)
        self.n_hosts = n_hosts
        self.hot = rng.randrange(n_hosts)
        self.hosts = [f"w{seed}-h{k:04d}.test" for k in range(n_hosts)]
        self.seeds = [f"http://{h}/" for h in self.hosts]
        # every seventh host disallows a path no page uses: the robots
        # gate runs real rules without blocking any fetch
        self.robots = [
            (h, "http", 200,
             "User-agent: *\nDisallow: /private\n" if k % 7 else "User-agent: *\nAllow: /\n")
            for k, h in enumerate(self.hosts)
        ]
        self.pages: list[dict] = []
        self.images: list[dict] = []
        for k, host in enumerate(self.hosts):
            b = branching * hot_factor if k == self.hot else branching
            nxt = self.hosts[(k + 1) % n_hosts]
            for pid in _page_ids(b, depth):
                extra = ()
                if backlinks and pid:
                    # links to already-seen pages: the parent, the host
                    # root and the next host's root; the seen dedup must
                    # discard every one of them
                    parent = pid.rpartition(".")[0]
                    extra = ((f"/{parent}", "Up"), ("/", "Home"), (f"http://{nxt}/", "Next"))
                image_id = f"{host}/{pid}" if (images and pid) else None
                self.pages.append(testkit.page_row(
                    host, pid, branching=b, sep=".", extra_links=extra, image_id=image_id))
                if image_id:
                    arr = imagecodec.synth_image(image_id, 16, 16)
                    self.images.append({
                        "image_id": image_id,
                        "bytes": imagecodec.encode(arr, "qjpg"),
                        "w": 16, "h": 16, "fmt": "qjpg",
                        "caption": imagecodec.caption_for(image_id),
                        "phash": phash16(arr),
                    })

    def write(self, out_dir: str) -> dict:
        os.makedirs(out_dir, exist_ok=True)
        files = {"pages": _write(self.pages, _arrow_schema(PAGE_SCHEMA),
                                 os.path.join(out_dir, "pages.parquet"))}
        if self.images:
            files["images"] = _write(self.images, _arrow_schema(IMAGE_SCHEMA),
                                     os.path.join(out_dir, "images.parquet"))
        return files


def phash16(arr: np.ndarray) -> int:
    """``imagecodec.phash64`` of a 16x16 image, with its loops over the
    2x2 blocks done as array sums in the same order, so the hash is the
    same (the self-test checks it) at a tenth of the cost."""
    g = arr.astype(np.float64).mean(axis=2)
    blocks = (g[0::2, 0::2] + g[0::2, 1::2] + g[1::2, 0::2] + g[1::2, 1::2]) / 4
    v = int.from_bytes(np.packbits(blocks > blocks.mean()).tobytes(), "big")
    return v - (1 << 64) if v >= 1 << 63 else v


def _page_ids(b: int, depth: int) -> list[str]:
    ids, frontier = [""], [""]
    for _ in range(depth):
        frontier = [f"{p}.{e}" if p else str(e) for p in frontier for e in range(b)]
        ids.extend(frontier)
    return ids


# ---------------------------------------------------------------------------
# analysis tables (the star schema, documents and embeddings the query
# registry reads, in the column layout of the registry's sf directories)

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query filter group big "
    "vector stream"
).split()
_LANG_WORDS = {
    "en": "the and of to is in that it was for".split(),
    "es": "el la de que y en los se del las".split(),
    "fr": "le la et les des en un une est du".split(),
    "de": "der die und das ist nicht mit den ein zu".split(),
    "zh": [],
}
_LANGS = ["en"] * 4 + ["es", "fr", "de", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def analysis_tables(seed: int, out_dir: str, *, customers: int, orders: int,
                    docs: int, vectors: int) -> dict:
    """Write region/nation/customer/orders/lineitem/documents/embeddings
    parquet files under ``out_dir``; returns {table: write info}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    out = {}

    def put(name, cols: dict):
        table = pa.table(cols)
        out[name] = _write(table.to_pylist(), table.schema,
                           os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION{i:02d}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(1, customers + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, customers + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, customers)],
    })
    day = np.timedelta64(1, "D")
    start = np.datetime64("1992-01-01T00:00:00", "us")
    o_date = start + rng.integers(0, 2400, orders) * day
    o_price = np.round(rng.uniform(900.0, 500000.0, orders), 2)
    put("orders", {
        "o_orderkey": pa.array(np.arange(1, orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, customers + 1, orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, orders)],
        "o_totalprice": o_price,
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, orders)],
    })
    lines = rng.integers(1, 8, orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(1, orders + 1), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n) * day
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    texts, langs = [], []
    for i in range(docs):
        if i > 10 and rng.random() < 0.04:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            lang = langs[-1]
        else:
            lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
            vocab = _WORDS + _LANG_WORDS[lang] * 2
            words = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(12, 90)))]
        texts.append(" ".join(words))
        langs.append(lang)
    put("documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, vectors)
    vecs = centers[labels] + 1.5 * rng.normal(size=(vectors, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out
