"""Similarity search over `embeddings(vec_id, embedding float[], label)`.

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Cosine in float64 via zip_with/aggregate (JVM-side, no UDF).
- ``srp_ann_topk``: the scale path — sign-random-projection LSH.
  The hyperplanes live in a committed parquet fixture
  (fixtures/planes.parquet) so BOTH Spark and the DuckDB oracle
  compute identical buckets: the projection is expressed as a
  join-aggregate (posexplode(embedding) ⋈ planes on dim, sum of
  products per (vec, plane)) — i.e., the matrix multiply AS a join,
  which is exactly how it distributes at 10^9 vectors. Same-bucket
  candidates are re-ranked by exact cosine.

- ``pq_encode`` / ``pq_topk`` (r9): product quantization — the
  MEMORY scale path. Codes are M bytes/vector (32x smaller than the
  raw float corpus); the ADC scan never reads a raw vector, and the
  opt-in rerank reads raw vectors for the per-query shortlist only.
  Codebooks live in a committed fixture (fixtures/pq_codebooks
  .parquet) like the IVF centroids, so codes are engine-independent.

Scale notes: brute-force is O(Q·N) — fine for a query batch against
a broadcast candidate set, wrong at N=10^9; SRP buckets cut N to
N/2^bits per probe with a high-entropy key (skew-free shuffle); PQ
cuts the BYTES/vector the scan touches (IVF cuts which vectors are
scanned — at 10^9 the deployment shape composes both: IVF buckets,
PQ codes inside each bucket, exact rerank on the shortlist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import spread

__all__ = ["cosine_topk", "srp_ann_topk", "srp_buckets", "ivf_assign",
           "ivf_assign_multi", "ivf_topk", "pq_encode", "pq_topk",
           "ivfpq_topk"]


def _dot(x, y):
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, t: s + t)


def _cos(av, bv):
    return _dot(av, bv) / (F.sqrt(_dot(av, av)) * F.sqrt(_dot(bv, bv)))


def _norm(v):
    """sqrt(v·v) — hoisted per VECTOR instead of per pair (r10): the
    inline _cos re-evaluated both self-dots for every scored pair, so
    a P-pair rerank paid 3P interpreted-HOF dot products. Computing
    the identical expression once per row and multiplying the two
    norm COLUMNS in the pair projection yields bit-identical doubles
    (same element order, same operations — only the evaluation count
    changes) at ~P dots."""
    return F.sqrt(_dot(v, v))


def _cos_pre(av, an, bv, bn):
    """Cosine from pre-hoisted norms: same value as _cos(av, bv)."""
    return _dot(av, bv) / (an * bn)


def _scored_pairs_arrow(joined: DataFrame) -> DataFrame:
    """Numpy-batched pair scorer (r10, guide §4.2) for the quadratic
    near-dup pair stage: input (vec_a, vec_b, va, na, vb, nb), output
    (vec_a, vec_b, cosine) with cosine EXACTLY equal to
    ``_cos_pre(va, na, vb, nb)``. The accumulation is the same left
    fold in ascending element order the interpreted
    aggregate(zip_with(va, vb, *), 0.0, +) performs —
    ``acc += A[:, j] * B[:, j]`` for j = 0..d-1 does, per pair,
    multiply-then-add on float64 in the identical sequence — so every
    double is bit-identical (pinned by
    tests/test_ops.py::test_scored_pairs_arrow_bit_equal). Rows the
    vectorized path cannot prove dense/rectangular/null-free fall back
    to a scalar fold replicating the HOF null semantics (null element
    or ragged zip -> null cosine)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [joined.schema["vec_a"], joined.schema["vec_b"],
         T.StructField("cosine", T.DoubleType())]
    )

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            idx = {nm: j for j, nm in enumerate(rb.schema.names)}
            ca, cb = rb.column(idx["vec_a"]), rb.column(idx["vec_b"])
            va, vb = rb.column(idx["va"]), rb.column(idx["vb"])
            na, nb = rb.column(idx["na"]), rb.column(idx["nb"])
            n = rb.num_rows
            cos_arr = None
            if n and not (va.null_count or vb.null_count or na.null_count or nb.null_count):
                la = pc.list_value_length(va).to_numpy(zero_copy_only=False)
                lb = pc.list_value_length(vb).to_numpy(zero_copy_only=False)
                d = int(la[0])
                fa, fb = va.flatten(), vb.flatten()
                if (
                    d > 0
                    and (la == d).all()
                    and (lb == d).all()
                    and fa.null_count == 0
                    and fb.null_count == 0
                    and len(fa) == n * d
                    and len(fb) == n * d
                ):
                    A = fa.to_numpy(zero_copy_only=False).reshape(n, d)
                    B = fb.to_numpy(zero_copy_only=False).reshape(n, d)
                    acc = np.zeros(n, dtype=np.float64)
                    for j in range(d):
                        acc += A[:, j] * B[:, j]
                    denom = na.to_numpy(zero_copy_only=False) * nb.to_numpy(
                        zero_copy_only=False
                    )
                    if (denom == 0.0).any():
                        # ANSI parity: _cos_pre's division raises on a
                        # zero divisor (session ANSI mode is on)
                        raise ZeroDivisionError("Division by zero")
                    cos_arr = pa.array(acc / denom, pa.float64())
            if cos_arr is None:
                # scalar fallback with exact HOF semantics
                vals = []
                va_l, vb_l = va.to_pylist(), vb.to_pylist()
                na_l, nb_l = na.to_pylist(), nb.to_pylist()
                f64 = np.float64
                for i in range(n):
                    a_v, b_v = va_l[i], vb_l[i]
                    n_a, n_b = na_l[i], nb_l[i]
                    if a_v is None or b_v is None or n_a is None or n_b is None:
                        vals.append(None)
                        continue
                    if len(a_v) != len(b_v):
                        vals.append(None)  # zip_with pads with null -> poisons
                        continue
                    s = 0.0
                    bad = False
                    for p, q in zip(a_v, b_v):
                        if p is None or q is None:
                            bad = True
                            break
                        s = s + p * q
                    if bad:
                        vals.append(None)
                    else:
                        denom = f64(n_a) * f64(n_b)
                        if denom == 0.0:
                            raise ZeroDivisionError("Division by zero")  # ANSI parity
                        vals.append(float(f64(s) / denom))
                cos_arr = pa.array(vals, pa.float64())
            yield pa.RecordBatch.from_arrays([ca, cb, cos_arr],
                                             names=["vec_a", "vec_b", "cosine"])

    return joined.select("vec_a", "vec_b", "va", "na", "vb", "nb").mapInArrow(
        fn, out_schema
    )


def cosine_topk(emb: DataFrame, k: int = 5, n_queries: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries``
    vectors (excluding self). Query side is tiny -> broadcast it so
    the cross join is a broadcast nested loop, not a shuffle. The
    candidate side is spread to session parallelism first (r10): the
    per-pair HOF dot products run in the scan stage, and a small
    parquet table scans as 1-2 splits (measured 2.88 -> 0.66 s at
    sf1.0 on local[32] from this alone)."""
    e = spread(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ).withColumn("n", _norm(F.col("v")))
    q = F.broadcast(
        e.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("n").alias("qn")
        )
    )
    scored = (
        q.crossJoin(e)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(_cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("n")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("q_id", "rnk")
    )


def _centroid_scores(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, c_cos): cosine of every vector against
    every centroid. Centroid table is tiny and broadcast, so the
    fan-out join never shuffles the vector side; c_cos is rounded to
    6 decimals so the argmin/argsort is robust to sub-ulp summation
    differences across engines (ties broken by centroid_id). The
    expression is _carry_scores', projected."""
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("n", _norm(F.col("v")))
    return _carry_scores(e, _broadcast_centroids(centroids)).select(
        "vec_id", "centroid_id", "c_cos"
    )


def _bucket_pairs_scored(side: DataFrame, canonical_filter: bool) -> DataFrame:
    """In-bucket pair scorer (r10, guide §2.3/§4.2): input one row per
    (vector, probed bucket) — (vec_id, v, n, bucket[, buckets]) — and
    output every in-bucket pair (vec_a < vec_b) with its cosine.
    Each bucket group crosses the Python boundary ONCE (m vectors,
    not m^2/2 pairs — the pair-join + mapInArrow shape shipped every
    pair its two vectors, ~1 KB/pair); pairs are generated in-group
    via triu indices over vec_id-sorted rows and scored with the same
    ascending-element left fold as the interpreted _cos_pre
    (acc += V[iu, j] * V[jv, j]), so surviving cosines are
    bit-identical. ``canonical_filter`` dedups multi-probe pairs
    without any O(pairs) exchange: a pair sharing several probed
    buckets is kept only in the group whose bucket is the MIN of the
    shared probe set (bitmask test; set fallback for bucket ids >=
    64). ANSI parity: a zero norm product on an emitted pair raises
    like _cos_pre's division does. Null vectors/norms AND vectors
    with a null ELEMENT drop their pairs — nulls are filtered in the
    JVM before the group, where null is still distinguishable from
    NaN (the old HOF path scored them to a null cosine and the
    >= threshold filter dropped them — same outcome, now deliberate).
    Literal-NaN elements (out-of-domain data) also end as DROPPED
    pairs: applyInPandas's pandas->Arrow return coerces float NaN to
    null — the one documented divergence from the HOF path, which
    emitted a NaN-cosine row there (Spark orders NaN above any
    threshold); pinned by
    tests/test_ops.py::test_bucket_pairs_scored_null_and_nan_elements.
    A ragged group falls back to a scalar fold with exact HOF
    semantics. Pair generation is CHUNKED (~4M pairs per block) so a
    skewed bucket never materializes O(m^2) index arrays at once."""
    from pyspark.sql import types as T

    id_type = side.schema["vec_id"].dataType
    out_schema = T.StructType(
        [T.StructField("vec_a", id_type), T.StructField("vec_b", id_type),
         T.StructField("cosine", T.DoubleType())]
    )

    def score(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        pdf = pdf[pdf["v"].notna() & pdf["n"].notna()]
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        vs = pdf["v"].to_numpy()[order]
        norms = pdf["n"].to_numpy()[order].astype(np.float64, copy=False)
        ragged = len({len(x) for x in vs}) != 1
        V = None if ragged else np.stack(vs).astype(np.float64, copy=False)
        fast_mask = False
        if canonical_filter:
            bl = pdf["buckets"].to_numpy()[order]
            cur = int(pdf["bucket"].iloc[0])
            fast_mask = cur < 64 and all(0 <= int(b) < 64 for bs in bl for b in bs)
            if fast_mask:
                masks = np.fromiter(
                    (sum(1 << int(b) for b in set(int(x) for x in bs)) for bs in bl),
                    dtype=np.uint64, count=m,
                )
                below = np.uint64((1 << cur) - 1)
            else:
                bsets = [set(int(x) for x in bs) for bs in bl]
        outs = []
        CHUNK = 4_000_000  # pair budget per block: bounds peak memory
        i0 = 0
        while i0 < m - 1:
            i1, pairs = i0, 0
            while i1 < m - 1 and (pairs == 0 or pairs + (m - 1 - i1) <= CHUNK):
                pairs += m - 1 - i1
                i1 += 1
            rows = np.arange(i0, i1)
            iu = np.repeat(rows, m - 1 - rows)
            jv = np.concatenate([np.arange(i + 1, m) for i in range(i0, i1)])
            i0 = i1
            if canonical_filter:
                if fast_mask:
                    keep = (masks[iu] & masks[jv] & below) == 0
                else:
                    keep = np.fromiter(
                        (min(bsets[i] & bsets[j]) == cur for i, j in zip(iu, jv)),
                        dtype=bool, count=len(iu),
                    )
                iu, jv = iu[keep], jv[keep]
            if not len(iu):
                continue
            if ragged:
                # scalar fold with exact HOF null semantics
                f64 = np.float64
                out_a, out_b, out_c = [], [], []
                for i, j in zip(iu, jv):
                    a_v, b_v = vs[i], vs[j]
                    if len(a_v) != len(b_v):
                        continue  # zip_with pads with null -> null cosine -> dropped
                    s = 0.0
                    for p, q in zip(a_v, b_v):
                        s = s + p * q
                    denom = f64(norms[i]) * f64(norms[j])
                    if denom == 0.0:
                        raise ZeroDivisionError("Division by zero")  # ANSI parity
                    out_a.append(ids[i]); out_b.append(ids[j])
                    out_c.append(float(f64(s) / denom))
                outs.append(pd.DataFrame(
                    {"vec_a": out_a, "vec_b": out_b, "cosine": out_c}))
                continue
            acc = np.zeros(len(iu), dtype=np.float64)
            for j in range(V.shape[1]):
                acc += V[iu, j] * V[jv, j]
            denom = norms[iu] * norms[jv]
            if (denom == 0.0).any():
                raise ZeroDivisionError("Division by zero")  # ANSI parity
            outs.append(pd.DataFrame(
                {"vec_a": ids[iu], "vec_b": ids[jv], "cosine": acc / denom}))
        if not outs:
            return empty
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    # drop null-element vectors in the JVM, where null is still
    # distinguishable from NaN (see docstring)
    clean = side.filter(~F.exists(F.col("v"), lambda x: x.isNull()))
    return clean.groupBy("bucket").applyInPandas(score, out_schema)


def _norm_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v, n): spread + cast + per-vector norm — the shared
    corpus-side frame builder."""
    return spread(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ).withColumn("n", _norm(F.col("v")))


def _broadcast_centroids(centroids: DataFrame) -> DataFrame:
    return F.broadcast(
        centroids.select(
            "centroid_id", F.col("center").cast("array<double>").alias("cv")
        ).withColumn("cn", _norm(F.col("cv")))
    )


def _carry_scores(e: DataFrame, c: DataFrame) -> DataFrame:
    """The single home of the bucket-defining rounded c_cos expression
    with v/n carried through the fan-out; _centroid_scores projects
    it (two copies of it could silently split assignment semantics
    between ivf_topk, ivf_assign and embedding_neardup_ivf)."""
    return e.crossJoin(c).select(
        "vec_id",
        "v",
        "n",
        "centroid_id",
        F.round(_cos_pre(F.col("v"), F.col("n"), F.col("cv"), F.col("cn")), 6).alias("c_cos"),
    )


def _centroid_scores_carry(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """_centroid_scores with the vector and its norm CARRIED through
    the fan-out (vec_id, v, n, centroid_id, c_cos) — the ivf_topk
    carry pattern, shared with dedup.embedding_neardup_ivf so a
    downstream assignment aggregate can keep v/n via first() instead
    of re-joining the vector table. Same rounded c_cos expression as
    _centroid_scores (identical buckets)."""
    return _carry_scores(_norm_vectors(emb), _broadcast_centroids(centroids))


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantization: each vector -> its nearest centroid
    (the inverted-list bucket). Centroids are a committed k-means
    fixture (fixtures/centroids.parquet, scripts/make_fixtures.py) so
    the DuckDB oracle assigns identically. The per-vector argmax
    collapses map-side (fan-out rows stay in their input partition),
    so the reduce shuffle carries ~one row per vector — the standard
    IVF assign cost (n·k dot products), no all-pairs anywhere.
    The corpus side is spread first (r10, see cosine_topk): the n·k
    HOF dot products otherwise run at the scan's 1-2-split
    parallelism on a small table."""
    scored = _centroid_scores(spread(emb.select("vec_id", "embedding")), centroids)
    return scored.groupBy("vec_id").agg(
        F.min(F.struct((-F.col("c_cos")).alias("neg"), F.col("centroid_id").alias("cid")))
        .getField("cid")
        .alias("bucket")
    )


def ivf_assign_multi(emb: DataFrame, centroids: DataFrame, n_probe: int = 2) -> DataFrame:
    """Multi-probe IVF assignment: each vector -> its ``n_probe``
    nearest centroids, one (vec_id, bucket) row per probe. The
    blocking fix for single-probe near-dup's boundary-pair miss
    (VERDICT r03 #3): a pair straddling a centroid boundary shares
    a second-nearest bucket with high probability, so p probes trade
    ~p^2/2 x the in-bucket pair work for that recall. Same map-side
    shape as ivf_assign — the top-p select is a collect_list of k
    (small, broadcast-bounded) centroid scores per vector sorted in
    the aggregate, never a row_number window over the n*k fan-out."""
    scored = _centroid_scores(spread(emb.select("vec_id", "embedding")), centroids)
    tops = scored.groupBy("vec_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("c_cos")).alias("neg"),
                        F.col("centroid_id").alias("cid"),
                    )
                )
            ),
            1,
            n_probe,
        ).alias("tops")
    )
    return tops.select(
        "vec_id", F.explode(F.col("tops").getField("cid")).alias("bucket")
    )


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN: candidates live in their nearest-centroid bucket;
    each query probes its ``n_probe`` nearest buckets and re-ranks
    the union by exact cosine. The scale path for embedding
    similarity at 10^9 vectors: per query only ~n_probe/k_centroids
    of the corpus is scored, and the bucket join shuffles on a
    small-cardinality key whose skew is bounded by k-means balance.
    Corpus side spread to session parallelism (r10, see cosine_topk)
    before the HOF-heavy scoring.

    r10: the candidate build carries ``v`` THROUGH the assignment
    aggregate (first(v) — constant per vec_id group, so the value is
    deterministic) instead of joining ivf_assign's (vec_id, bucket)
    back against the vector table: same bucket expression as
    ivf_assign (argmin via min-of-struct over the identical rounded
    c_cos), one corpus shuffle instead of an extra sort-merge join's
    two exchanges + sorts of the array column."""
    e = _norm_vectors(emb)
    cscored = _carry_scores(e, _broadcast_centroids(centroids))
    cand = cscored.groupBy("vec_id").agg(
        F.min(F.struct((-F.col("c_cos")).alias("neg"), F.col("centroid_id").alias("cid")))
        .getField("cid")
        .alias("bucket"),
        F.first("v").alias("v"),
        F.first("n").alias("n"),
    )
    qscores = _centroid_scores(emb.filter(F.col("vec_id") < n_queries), centroids)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), "centroid_id")
    probes = (
        qscores.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("q_id"), F.col("centroid_id").alias("bucket"))
    )
    q = probes.join(
        e.select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("n").alias("qn")
        ),
        "q_id",
    )
    # broadcast the (n_queries x n_probe)-row query side explicitly
    # (r10): size ESTIMATES for this join-of-a-window put it over the
    # auto-broadcast threshold, so the planner picked a sort-merge
    # join that shuffled the whole candidate corpus into <= n_centroid
    # bucket keys — a skewed exchange AND the HOF rerank collapsed to
    # that few cores. Broadcasting keeps candidates in their spread
    # partitions with no exchange at all.
    scored = (
        F.broadcast(q).join(cand, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(_cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("n")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("q_id", "rnk")
    )


def srp_buckets(emb: DataFrame, planes: DataFrame) -> DataFrame:
    """Sign-random-projection bucket per vector: posexplode the
    embedding, join the plane weights on dim, sum products per
    (vec, plane), collect sign bits into a bucket string."""
    comp = emb.select("vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
    proj = (
        comp.join(F.broadcast(planes), "dim")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("x") * F.col("w")).alias("p"))
    )
    return proj.groupBy("vec_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("plane", (F.col("p") >= 0).cast("int").alias("bit")))
                ),
                lambda s: s["bit"].cast("string"),
            ),
        ).alias("bucket")
    )


def srp_ann_topk(
    emb: DataFrame, planes: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """ANN: same-bucket candidates re-ranked by exact cosine (norms
    hoisted per vector, r10 — see _norm)."""
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("n", _norm(F.col("v")))
    buckets = srp_buckets(emb, planes)
    eb = e.join(buckets, "vec_id")
    q = eb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("n").alias("qn"), "bucket"
    )
    # explicit broadcast of the n_queries-row side (r10, see ivf_topk:
    # the estimate-driven plan was a sort-merge join shuffling every
    # candidate by the low-cardinality bucket key)
    scored = (
        F.broadcast(q).join(eb, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(_cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("n")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("q_id", "rnk")
    )


def pq_encode(emb: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Product-quantization encode: each vector becomes M uint8-range
    codes (one per dimension subspace) — the MEMORY scale path IVF
    lacks (r9): at 10^9 x 64-dim float vectors the raw corpus is
    ~256 GB/replica, the PQ codes are ~8 GB and the ADC scan never
    touches the raw vectors.

    ``codebooks`` rows are (sub, code, dim, value) with GLOBAL dim
    indices (fixtures/pq_codebooks.parquet — deterministic per-
    subspace numpy k-means over the sf0.001 embeddings, committed so
    every engine computes identical codes; any fixed codebook is
    CORRECT, training only affects recall). The assignment is the
    same join-aggregate shape as ivf_assign: posexplode(embedding)
    ⋈ broadcast(codebooks) on dim, partial-sum of squared deltas per
    (vec, sub, code), argmin per (vec, sub) — distributes at 10^9
    vectors with no UDF and no skew (the groupBy key is
    high-entropy (vec_id, sub, code))."""
    comp = spread(emb.select("vec_id", "embedding")).select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    d2 = (
        comp.join(F.broadcast(codebooks), "dim")
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum((F.col("x") - F.col("value")) ** 2).alias("d2"))
    )
    wmin = Window.partitionBy("vec_id", "sub").orderBy("d2", "code")
    best = d2.withColumn("rn", F.row_number().over(wmin)).filter(F.col("rn") == 1)
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def _l2(av, bv):
    return F.aggregate(
        F.zip_with(av, bv, lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda s, t: s + t,
    )


def pq_topk(
    emb: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    rerank: int = 0,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC): each query
    builds its per-(sub, code) squared-distance table from the raw
    codebooks (tiny: M x K rows per query, broadcast), and every
    corpus vector is scored as the SUM of table lookups over its M
    codes — approximate L2, no raw corpus vector ever read at scan
    time. Returns (q_id, n_id, dist) top-k ascending. The corpus
    side is one explode + broadcast-join + partial-agg: the only
    shuffle is the (q_id, vec_id) aggregation, whose key is
    high-entropy by construction.

    ``rerank`` > 0 is the production IVFADC+rerank shape: the ADC
    scan prunes the corpus to a per-query shortlist of that size,
    and ONLY those rows' raw vectors are read back for an exact-L2
    re-rank — at 10^9 vectors the scan stays code-only (M bytes/
    vector) while recall is set by shortlist containment, not ADC
    resolution (measured on the 500-vector near-random fixture:
    raw-ADC recall@5 0.22, shortlist-50 rerank 0.68).

    ``codes`` is the deployment shape: a precomputed pq_encode frame
    (typically a stored table — pq_encode is the one-time index
    build; the recurring scan then reads 8 B/vector codes instead of
    re-encoding from raw vectors). Measured at sf0.1: the
    stored-codes scan beats even brute force at 2,000 vectors and
    the codes parquet is 44.7x smaller at rest (BENCH.md r9 ANN
    table)."""
    enc = pq_encode(emb, codebooks) if codes is None else codes
    qtab = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
        )
        .join(F.broadcast(codebooks), "dim")
        .groupBy("q_id", "sub", "code")
        .agg(F.sum((F.col("x") - F.col("value")) ** 2).alias("pd2"))
    )
    cand = enc.select("vec_id", F.posexplode("codes").alias("sub", "code"))
    scored = (
        cand.join(F.broadcast(qtab), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.round(F.sum("pd2"), 4).alias("dist"))
    )
    w = Window.partitionBy("q_id").orderBy("dist", "n_id")
    if not rerank:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .orderBy("q_id", "rnk")
        )
    short = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= rerank)
        .select("q_id", "n_id")
    )
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
    )
    exact = (
        short.join(e, short["n_id"] == e["vec_id"])
        .join(q, "q_id")
        .select("q_id", "n_id", F.round(_l2(F.col("qv"), F.col("v")), 4).alias("dist"))
    )
    w2 = Window.partitionBy("q_id").orderBy("dist", "n_id")
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .orderBy("q_id", "rnk")
    )


def ivfpq_topk(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_probe: int = 2,
    rerank: int = 50,
    codes: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """The composed 10^9-vector deployment shape (IVFADC): IVF
    buckets prune WHICH vectors are scanned (~n_probe/k_centroids of
    the corpus), PQ codes prune the BYTES each scanned vector costs
    (M bytes, no raw read), and the exact-L2 rerank touches raw
    vectors only for the per-query shortlist. Every stage reuses the
    audited pieces: ivf_assign buckets, pq_encode codes, the ADC
    broadcast-join scan, the pq_topk rerank. Joins broadcast the
    tiny side (probes, ADC tables, query vectors); the only corpus
    shuffles are the assignment/encode aggregations and the final
    (q_id, n_id) partial-agg — all high-entropy keys.

    ``codes`` / ``buckets`` are the deployment shape: precomputed
    pq_encode / ivf_assign frames (stored index tables) so the
    recurring query never re-encodes or re-assigns the corpus."""
    if buckets is None:
        buckets = ivf_assign(emb, centroids)
    enc = pq_encode(emb, codebooks) if codes is None else codes
    cand = enc.join(buckets, "vec_id").select(
        "vec_id", "bucket", F.posexplode("codes").alias("sub", "code")
    )
    qscores = _centroid_scores(emb.filter(F.col("vec_id") < n_queries), centroids)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), "centroid_id")
    probes = (
        qscores.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("q_id"), F.col("centroid_id").alias("bucket"))
    )
    qtab = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
        )
        .join(F.broadcast(codebooks), "dim")
        .groupBy("q_id", "sub", "code")
        .agg(F.sum((F.col("x") - F.col("value")) ** 2).alias("pd2"))
    )
    scored = (
        cand.join(F.broadcast(probes), "bucket")
        # one contribution per (q_id, vec_id, sub) (ADVICE r9 #2): a
        # stored multi-probe ``buckets`` table (ivf_assign_multi) can
        # list a vector in two probed buckets, which would double its
        # pd2 rows in the ADC sum and corrupt the shortlist. For the
        # single-probe ivf_assign shape the key is already unique, so
        # this is a pure no-op there (duplicate rows are identical —
        # same code, same pd2 — so which one survives is immaterial).
        .dropDuplicates(["q_id", "vec_id", "sub"])
        .join(F.broadcast(qtab), ["q_id", "sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.round(F.sum("pd2"), 4).alias("dist"))
    )
    w = Window.partitionBy("q_id").orderBy("dist", "n_id")
    short = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= rerank)
        .select("q_id", "n_id")
    )
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
    )
    exact = (
        short.join(e, short["n_id"] == e["vec_id"])
        .join(q, "q_id")
        .select("q_id", "n_id", F.round(_l2(F.col("qv"), F.col("v")), 4).alias("dist"))
    )
    w2 = Window.partitionBy("q_id").orderBy("dist", "n_id")
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .orderBy("q_id", "rnk")
    )
