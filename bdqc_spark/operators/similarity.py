"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k via a join + window.
  Correct baseline; the oracle-checked variant lives in
  __spark_entry__.q_similarity_topk.
- ``ann_lsh_topk``: random-hyperplane LSH (SimHash-for-vectors).
  Queries only compare against candidates in the same hyperplane
  sign bucket → the cross-join shrinks by ~2^n_planes. This is the
  scale path: at corpus scale the bucket join is an equi-join
  (shuffle on bucket id), never an all-pairs product.

Hyperplanes are deterministic (seeded numpy), inlined as array
literals → the whole operator is Catalyst expressions, no UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (n(a) * n(b))


def brute_force_topk(
    df: DataFrame, id_col: str, emb_col: str, k: int, query_filter: str
) -> DataFrame:
    q = df.where(query_filter).select(F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb"))
    c = df.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
    scored = q.join(c, F.col("q_id") != F.col("c_id")).withColumn(
        "cosine", F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", "rk")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    k: int,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 6,
    kmeans_iters: int = 5,
    sample_size: int = 2000,
    seed: int = 11,
    query_filter: str = "true",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: train a coarse
    quantizer on a bounded sample, assign every vector to its nearest
    centroid cell, and search only the query's n_probe nearest cells.

    The candidate set shrinks to ~n_probe/n_centroids of the corpus;
    recall follows the data's cluster structure (high when near
    neighbours share cells, ~0.6-0.8 on structureless random vectors
    at n_probe/n_centroids ≈ 1/3). n_probe = n_centroids degrades
    gracefully to exact brute force.

    Scale shape: training reads ONE bounded sample (explicit limit —
    at 10^12 rows you train offline on a sample exactly like this);
    the centroid matrix is KBs and ships in the UDF closure; cell
    assignment is one numpy matmul per Arrow batch; the search is an
    equi-join on cell id (shuffle, never a cross join).
    """
    sample = np.asarray(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in df.select(emb_col).limit(sample_size).collect()
        ]
    )
    if sample.size == 0:
        raise ValueError(
            f"ivf_topk: no vectors in '{emb_col}' to train the coarse "
            "quantizer on (input DataFrame is empty)"
        )
    if sample.ndim != 2 or sample.shape[1] != dim:
        raise ValueError(
            f"ivf_topk: expected {dim}-dim vectors in '{emb_col}', got "
            f"shape {sample.shape} (ragged or mis-declared dim)"
        )
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.maximum(norms, 1e-12)
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), min(n_centroids, len(sample)), replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(sample @ cents.T, axis=1)
        for j in range(len(cents)):
            m = assign == j
            if m.any():
                c = sample[m].mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cents[j] = c / n
    cent_t = cents.T.copy()  # (dim, k)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    def _cells_udf(top: int):
        @pandas_udf(ArrayType(IntegerType()))
        def _cells(emb: pd.Series) -> pd.Series:
            if len(emb) == 0:
                return pd.Series([], dtype=object)
            m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ cent_t
            idx = np.argsort(-sims, axis=1)[:, :top].astype(np.int32)
            return pd.Series(list(idx))

        return _cells

    # candidates: every vector in its single nearest cell
    c = df.select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("c_emb"),
        F.element_at(_cells_udf(1)(F.col(emb_col)), 1).alias("cell"),
    )
    # queries: explode the n_probe nearest cells
    q = df.where(query_filter).select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).alias("q_emb"),
        F.explode(_cells_udf(n_probe)(F.col(emb_col))).alias("cell"),
    )
    scored = (
        q.join(c, on="cell")
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", "rk")
    )


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    k: int,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 20,
    seed: int = 7,
    query_filter: str = "true",
) -> DataFrame:
    """Approximate top-k via L independent random-hyperplane hash
    tables: a candidate is compared iff it shares the full sign
    bucket with the query in ANY table.

    One table gives poor recall at corpus scale (a single 2^n_planes
    bucket per vector misses near neighbours that differ in one
    sign); L tables drive miss probability down exponentially,
    (1 - p^planes)^L, at L× bucketing cost — the standard LSH
    recall/cost dial. Defaults (4, 20) reach recall@3 ≳ 0.9 even on
    weak-neighbour corpora (top-1 cosine ≈ 0.37 → p ≈ 0.62/plane);
    with real near-dup structure (cosine ≥ 0.8) raise n_planes to
    shrink buckets at the same recall. `dim` comes from the caller's
    schema contract (array<> types don't carry a static length;
    inferring it from data would put a driver action on the plan
    path).

    All L·P plane projections are ONE numpy matmul per Arrow batch
    (a scalar pandas UDF) — Spark's interpreted higher-order
    functions cost ~0.4 ms per 64-dim dot, which at L·P per row is
    the wrong shape for the hot path. Join/dedup/top-k stay in
    Catalyst.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    flat_planes = planes.reshape(-1, dim).T.copy()  # (dim, L*P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    n_t, n_p = n_tables, n_planes

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def _buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        signs = (m @ flat_planes) > 0  # (n, L*P)
        vals = signs.reshape(len(m), n_t, n_p) @ weights  # (n, L)
        return pd.Series(list(vals))

    # One row per (vector, table): tbl tag keeps buckets of different
    # tables disjoint in a single equi-join key.
    with_bucket = df.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        F.posexplode(_buckets(F.col(emb_col))).alias("tbl", "bkt"),
    )

    # Filter queries via semi-join on the original predicate.
    qids = df.where(query_filter).select(F.col(id_col).alias("_id"))
    q = with_bucket.join(F.broadcast(qids), "_id", "left_semi").select(
        F.col("_id").alias("q_id"), F.col("_emb").alias("q_emb"), "tbl", "bkt"
    )
    c = with_bucket.select(F.col("_id").alias("c_id"), "tbl", "bkt")
    # Candidate ids from any table (dedup before scoring: a pair
    # colliding in several tables is scored once).
    cand = (
        q.select("q_id", "q_emb", "tbl", "bkt")
        .join(c, on=["tbl", "bkt"])
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "c_id")
        .dropDuplicates(["q_id", "c_id"])
    )
    cemb = df.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
    scored = cand.join(cemb, on="c_id").withColumn(
        "cosine", F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", "rk")
    )


def train_spherical_centroids(
    sample_normed: np.ndarray, n_centroids: int, seed: int, iters: int = 5
) -> np.ndarray:
    """Spherical k-means coarse quantizer over unit-norm vectors
    (cosine assignment; centroids re-normalized each step). Shared by
    ivf_topk / ivf_pq_topk / the persistent index builder so a saved
    index reproduces the in-plan operators exactly."""
    rng = np.random.default_rng(seed)
    cents = sample_normed[
        rng.choice(len(sample_normed), min(n_centroids, len(sample_normed)), replace=False)
    ].copy()
    for _ in range(iters):
        assign = np.argmax(sample_normed @ cents.T, axis=1)
        for j in range(len(cents)):
            m = assign == j
            if m.any():
                c = sample_normed[m].mean(axis=0)
                nn = np.linalg.norm(c)
                if nn > 0:
                    cents[j] = c / nn
    return cents


def adc_search(
    indexed: DataFrame,
    queries: list[tuple],
    cents: np.ndarray,
    books: np.ndarray,
    k: int,
    n_probe: int,
) -> DataFrame:
    """IVF-PQ search over an encoded corpus: ``indexed`` is
    (c_id, cell, codes); for each (q_id, vector) query, probe the
    n_probe nearest cells and rank candidates by asymmetric-distance
    lookup — the per-query LUT rides the plan as an array literal;
    scoring is pure Catalyst (zero Python). Shared by the in-plan
    ivf_pq_topk and the persistent-index query path."""
    cent_t = cents.T.copy()
    m_subspaces, n_codes_eff, d_sub = books.shape
    outs = []
    for q_id, q in queries:
        q = np.asarray(q, dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-12)
        probe = [int(c) for c in np.argsort(-(qn @ cent_t))[:n_probe]]
        lut = np.empty((m_subspaces, n_codes_eff))
        for m in range(m_subspaces):
            qs = qn[m * d_sub : (m + 1) * d_sub]
            lut[m] = ((books[m] - qs[None, :]) ** 2).sum(axis=1)
        lut_lit = F.lit([float(v) for v in lut.ravel()])
        adc = F.aggregate(
            F.expr("transform(codes, (c, m) -> struct(c AS c, m AS m))"),
            F.lit(0.0),
            lambda acc, x: acc
            + F.element_at(lut_lit, x["m"] * F.lit(n_codes_eff) + x["c"] + F.lit(1)),
        )
        outs.append(
            indexed.where(F.col("cell").isin(probe) & (F.col("c_id") != F.lit(q_id))).select(
                F.lit(q_id).alias("q_id"), "c_id", F.round(adc, 6).alias("adc_dist")
            )
        )
    allq = outs[0]
    for o in outs[1:]:
        allq = allq.unionByName(o)
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        allq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "c_id", "adc_dist", "rk")
    )


def train_pq_codebooks(
    sample: np.ndarray,
    m_subspaces: int = 8,
    n_codes: int = 256,
    kmeans_iters: int = 8,
    seed: int = 13,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou, Douze & Schmid, 2011,
    "Product quantization for nearest neighbor search"): split the
    vector into M contiguous subspaces and k-means each independently.
    Returns (M, n_codes, dim/M) float64. Driver-side on a bounded
    sample — same training contract as the IVF coarse quantizer."""
    n, dim = sample.shape
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by M={m_subspaces}")
    d_sub = dim // m_subspaces
    n_codes = min(n_codes, n)
    rng = np.random.default_rng(seed)
    books = np.empty((m_subspaces, n_codes, d_sub))
    for m in range(m_subspaces):
        sub = sample[:, m * d_sub : (m + 1) * d_sub]
        cents = sub[rng.choice(n, n_codes, replace=False)].copy()
        for _ in range(kmeans_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(n_codes):
                msk = assign == j
                if msk.any():
                    cents[j] = sub[msk].mean(axis=0)
        books[m] = cents
    return books


def pq_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    k: int,
    dim: int,
    m_subspaces: int = 8,
    n_codes: int = 64,
    sample_size: int = 2000,
    seed: int = 13,
    n_queries: int = 30,
) -> DataFrame:
    """PQ approximate top-k by L2 distance: vectors compress to M
    uint8 codes (dim×4 bytes → M bytes, 32× at dim=64/M=8 — the
    memory story that lets 10^12 vectors live in RAM), queries score
    candidates with the asymmetric-distance lookup table (ADC).

    Spark shape: codebooks train driver-side on ONE bounded sample
    (IVF contract); ENCODING is one Arrow-batched numpy pass
    (argmin over n_codes per subspace); SCORING is pure Catalyst —
    each query's M×n_codes distance LUT is numpy-computed from the
    codebooks (KBs), shipped as a flattened array LITERAL, and the
    approximate distance is an `aggregate` over the code array with
    `element_at` — zero Python, zero shuffle beyond the top-k window.
    The query set is a bounded head (like brute_force_topk's gating):
    each query contributes one LUT literal to the plan, which is the
    right shape for "score the corpus against a few probes", not for
    all-pairs."""
    sample = np.asarray(
        [np.asarray(r[0], dtype=np.float64) for r in df.select(emb_col).limit(sample_size).collect()]
    )
    if sample.size == 0:
        raise ValueError(f"pq_topk: no vectors in '{emb_col}'")
    if sample.ndim != 2 or sample.shape[1] != dim:
        raise ValueError(f"pq_topk: expected {dim}-dim vectors, got {sample.shape}")
    books = train_pq_codebooks(sample, m_subspaces, n_codes, seed=seed)
    n_codes_eff = books.shape[1]
    d_sub = dim // m_subspaces

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def _encode(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        codes = np.empty((len(x), m_subspaces), dtype=np.int32)
        for m in range(m_subspaces):
            sub = x[:, m * d_sub : (m + 1) * d_sub]
            d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    coded = df.select(
        F.col(id_col).alias("c_id"), _encode(F.col(emb_col)).alias("codes")
    ).localCheckpoint(eager=False)

    queries = [
        (r[0], np.asarray(r[1], dtype=np.float64))
        for r in df.select(id_col, emb_col).orderBy(id_col).limit(n_queries).collect()
    ]
    outs = []
    for q_id, q in queries:
        # ADC lookup table: ||q_sub - centroid||² per (subspace, code),
        # flattened so subspace m / code c sits at index m*n_codes+c
        lut = np.empty((m_subspaces, n_codes_eff))
        for m in range(m_subspaces):
            qs = q[m * d_sub : (m + 1) * d_sub]
            lut[m] = ((books[m] - qs[None, :]) ** 2).sum(axis=1)
        lut_lit = F.lit([float(v) for v in lut.ravel()])
        adc = F.aggregate(
            F.expr("transform(codes, (c, m) -> struct(c AS c, m AS m))"),
            F.lit(0.0),
            lambda acc, x: acc
            + F.element_at(lut_lit, x["m"] * F.lit(n_codes_eff) + x["c"] + F.lit(1)),
        )
        outs.append(
            coded.where(F.col("c_id") != F.lit(q_id)).select(
                F.lit(q_id).alias("q_id"),
                "c_id",
                F.round(adc, 6).alias("adc_dist"),
            )
        )
    allq = outs[0]
    for o in outs[1:]:
        allq = allq.unionByName(o)
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        allq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "c_id", "adc_dist", "rk")
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    k: int,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 6,
    m_subspaces: int = 8,
    n_codes: int = 64,
    sample_size: int = 2000,
    seed: int = 13,
    n_queries: int = 30,
) -> DataFrame:
    """IVF-PQ: the production ANN index shape (FAISS `IVFx,PQy`,
    after Jégou et al. 2011 §IV) — coarse cells prune the candidate
    set to ~n_probe/n_centroids of the corpus, PQ codes compress the
    candidates 32×, and asymmetric-distance lookup tables score them.

    Composition of the two existing trainers (one bounded driver
    sample feeds both); candidates are (cell, codes) pairs — the
    payload a 10^12-vector index actually stores. The search is an
    equi-join on cell id feeding a pure-Catalyst ADC aggregate (the
    per-query LUT rides the plan as an array literal); fine ranking
    within the probed cells is PQ-approximate, exactly as in the
    flat `pq_topk`. Cosine-normalized like `ivf_topk` so cell
    assignment matches; ADC then ranks by L2 on the normalized
    vectors (monotone in cosine)."""
    sample = np.asarray(
        [np.asarray(r[0], dtype=np.float64) for r in df.select(emb_col).limit(sample_size).collect()]
    )
    if sample.size == 0:
        raise ValueError(f"ivf_pq_topk: no vectors in '{emb_col}'")
    if sample.ndim != 2 or sample.shape[1] != dim:
        raise ValueError(f"ivf_pq_topk: expected {dim}-dim vectors, got {sample.shape}")
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    nsample = sample / np.maximum(norms, 1e-12)
    cents = train_spherical_centroids(nsample, n_centroids, seed)
    cent_t = cents.T.copy()
    books = train_pq_codebooks(nsample, m_subspaces, n_codes, seed=seed)
    n_codes_eff = books.shape[1]
    d_sub = dim // m_subspaces

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    out_t = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    @pandas_udf(out_t)
    def _index(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"cell": [], "codes": []})
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cell = np.argmax(x @ cent_t, axis=1).astype(np.int32)
        codes = np.empty((len(x), m_subspaces), dtype=np.int32)
        for m in range(m_subspaces):
            sub = x[:, m * d_sub : (m + 1) * d_sub]
            d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.DataFrame({"cell": cell, "codes": list(codes)})

    indexed = df.select(
        F.col(id_col).alias("c_id"), _index(F.col(emb_col)).alias("ix")
    ).select("c_id", "ix.cell", "ix.codes").localCheckpoint(eager=False)

    queries = [
        (r[0], np.asarray(r[1], dtype=np.float64))
        for r in df.select(id_col, emb_col).orderBy(id_col).limit(n_queries).collect()
    ]
    return adc_search(indexed, queries, cents, books, k, n_probe)
