"""Similarity search over embedding columns (array<float>).

* ``cosine_sim`` — built-in expression (zip_with dot product, sequential
  fold: deterministic summation order → oracle-reproducible).
* ``brute_force_topk`` — exact baseline: query×corpus cross join pruned to a
  broadcast of the (small) query set; corpus side streams. This is the
  correctness oracle for ANN variants.
* ``lsh_bucket_topk`` — the scale path: sign-random-projection LSH (SimHash
  for vectors) buckets the corpus; candidates only from matching buckets,
  with multi-probe via P independent tables. At 100 TB the corpus never
  self-joins all-pairs; shuffle key is (table, bucket).
* ``ivf_topk`` — IVF-style: k-means-ish centroid assignment (deterministic
  seeded projection centroids), search only the closest n_probe cells.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast the query side (small); the corpus scan parallelizes. The
    per-query top-k is a window over rank — with AQE the skew is bounded by
    the query count.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    ).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(cosine_sim(F.col("q_vec").cast("array<double>"), F.col("c_vec").cast("array<double>")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# --- LSH (sign random projection) --------------------------------------------


def _projection_vectors(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (LCG, no numpy on
    executors; generated once on the driver and inlined as literals)."""
    state = seed & 0x7FFFFFFF or 1
    out = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append((state / float(1 << 31)) * 2.0 - 1.0)
        out.append(v)
    return out


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: candidates share an SRP bucket in ≥1 of n_tables.

    Scale shape: corpus is bucketed once (explode over tables), shuffle key
    (table, bucket); queries broadcast. Recall < 1 by construction — verify
    against brute_force_topk in tests.
    """
    from pyspark.sql import Window

    tables = [
        _projection_vectors(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    # rows are cheap in bytes but expensive to hash — partition by count,
    # not file size, or a small corpus file runs the whole job in one task
    corpus = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)

    # vectorized SRP: one Arrow batch → one matmul per table, instead of
    # n_tables × n_planes interpreted HOF dot products per row. A bit is
    # set when the projection is positive (dot > 0); summation-order FP noise
    # (~1e-16) cannot flip a sign except for |dot| at that scale —
    # measure-zero for real embeddings
    P = np.asarray(tables, dtype=np.float64)  # (n_tables, n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def buckets_of(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)
        out = np.empty((M.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            bits = ((M @ P[t].T) > 0).astype(np.int64)
            out[:, t] = bits @ weights
        return pd.Series(out.tolist())

    def bucketize(df, idc, vc):
        return df.select(
            F.col(idc), F.col(vc), F.posexplode(buckets_of(F.col(vc))).alias("tbl", "bucket")
        )

    cb = bucketize(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        "neighbor_id",
        "c_vec",
    )
    qb = bucketize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "query_id",
        "q_vec",
    )
    # dedup candidate PAIRS on ids only (cheap fixed-width shuffle), then
    # attach vectors once per surviving pair — never shuffle arrays through
    # the distinct
    pair_ids = (
        cb.select("neighbor_id", "tbl", "bucket")
        .join(F.broadcast(qb.select("query_id", "tbl", "bucket")), on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    cands = (
        pair_ids.join(cvecs, on="neighbor_id")
        .join(F.broadcast(qvecs), on="query_id")
        .withColumn(
            "cos_sim",
            F.round(cosine_sim(F.col("q_vec").cast("array<double>"), F.col("c_vec").cast("array<double>")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# --- IVF ----------------------------------------------------------------------


def train_centroids(
    sample: "np.ndarray",
    n_cells: int,
    seed: int = 42,
    iters: int = 10,
) -> list[list[float]]:
    """Deterministic, seeded mini-k-means (spherical Lloyd) over a
    driver-side sample; returns centroids rounded to 6 dp as plain lists —
    inline-able as literals into both the Spark plan and the SQL oracle.

    Every step is pinned for exact replay: float64 math; assignment by
    cosine similarity ROUNDED to 6 dp with ties to the HIGHEST cid (the
    same quantized-argmax rule the query path uses, so training and serving
    agree); update = arithmetic mean of the assigned vectors rounded to
    6 dp; an emptied cell keeps its previous centroid; init = an LCG-seeded
    choice of distinct sample rows. Rounding at each boundary makes the
    procedure a pure function of (sample bytes, n_cells, seed, iters) —
    no BLAS/summation-order sensitivity can leak into the result because
    differences of ~1e-13 are quantized away at 1e-6.

    At 10^10 vectors this runs on a TABLESAMPLE'd driver-side slice (k-means
    on a few thousand rows); the expensive part of IVF — assignment of the
    full corpus — stays distributed in :func:`ivf_topk`.
    """
    X = np.asarray(sample, dtype=np.float64)
    n = X.shape[0]
    if n < n_cells:
        raise ValueError(f"need >= n_cells sample vectors ({n} < {n_cells})")
    # LCG-seeded distinct init rows (deterministic, numpy-version-proof)
    state = seed & 0x7FFFFFFF or 1
    chosen: list[int] = []
    while len(chosen) < n_cells:
        state = (1103515245 * state + 12345) % (1 << 31)
        i = state % n
        if i not in chosen:
            chosen.append(i)
    C = np.round(X[chosen], 6)
    Xn = X / np.where(
        (norms := np.linalg.norm(X, axis=1, keepdims=True)) == 0, 1.0, norms
    )
    prev_assign = None
    for _ in range(iters):
        Cn = C / np.where(
            (cn := np.linalg.norm(C, axis=1, keepdims=True)) == 0, 1.0, cn
        )
        sims = np.round(Xn @ Cn.T, 6)  # quantized: summation order can't flip
        # argmax with ties to the HIGHEST cid (matches cell_of / the oracle)
        assign = (sims.shape[1] - 1) - np.argmax(sims[:, ::-1], axis=1)
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                C[c] = np.round(members.mean(axis=0), 6)
    return [[float(v) for v in row] for row in C]


def train_centroids_from_corpus(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_n: int = 256,
    seed: int = 42,
    iters: int = 10,
) -> list[list[float]]:
    """Driver-side training sample = the ``sample_n`` lowest-id vectors
    (deterministic across runs AND reproducible outside Spark by reading the
    same parquet — which is how the DuckDB oracle inlines identical trained
    centroids). At 10^10 rows substitute a seeded TABLESAMPLE; the sort is
    a top-k (``orderBy.limit``), not a full shuffle."""
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample_n)
        .collect()
    )
    sample = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    return train_centroids(sample, n_cells, seed, iters)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    train_sample: int = 256,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_cells`` Voronoi cells
    around trained centroids; each query searches only its ``n_probe``
    closest cells.

    Centroids default to a deterministic seeded mini-k-means over the
    ``train_sample`` lowest-id corpus vectors
    (:func:`train_centroids_from_corpus` — exact-replay training, so the
    DuckDB oracle inlines the identical centroids); pass ``centroids`` to
    reuse a trained set, or ``train_sample=0`` for the untrained seeded
    hypervectors (cheap, markedly lower recall). Scale shape: corpus is
    assigned once (narrow map), shuffle key is ``cell``; queries broadcast
    with their probe lists. Recall < 1 by construction — verified against
    ``brute_force_topk`` in tests (bar: ≥0.8 trained).
    """
    from pyspark.sql import Window

    if centroids is not None:
        cents = centroids
    elif train_sample > 0:
        cents = train_centroids_from_corpus(
            corpus, id_col, vec_col, n_cells, train_sample, seed
        )
    else:
        cents = _projection_vectors(dim, n_cells, seed + 7)
    # see lsh_bucket_topk: partition the corpus by count before heavy per-row
    # centroid scoring
    corpus = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)

    C = np.asarray(cents, dtype=np.float64)
    Cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).T  # (dim, n_cells)

    def _cell_matrix(v: pd.Series) -> np.ndarray:
        """Batch × n_cells rounded cosine matrix — one BLAS matmul instead
        of n_cells interpreted HOF expressions per row. Semantics identical
        to cell_sims(): 6-dp rounding, zero vectors score 0 everywhere."""
        M = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M = M / np.where(norms == 0, 1.0, norms)
        return np.round(M @ Cn, 6)

    @F.pandas_udf("integer")
    def cell_of(v: pd.Series) -> pd.Series:
        sims = _cell_matrix(v)
        # argmax with ties to the HIGHEST cid (struct-max semantics)
        return pd.Series(
            (sims.shape[1] - 1) - np.argmax(sims[:, ::-1], axis=1)
        ).astype("int32")

    @F.pandas_udf("array<integer>")
    def probes_of(v: pd.Series) -> pd.Series:
        sims = _cell_matrix(v)
        cids = np.arange(sims.shape[1])
        out = []
        for row in sims:
            order = np.lexsort((-cids, -row))  # sim desc, cid desc on ties
            out.append(order[:n_probe].astype("int32").tolist())
        return pd.Series(out)

    # (cell assignment semantics, shared with the DuckDB oracle: cosine to
    # every centroid rounded to 6 dp — summation-order FP noise ~1e-16
    # cannot flip a 1e-6 quantum except exactly at a rounding boundary —
    # cell = argmax with ties to the highest cid, probes = top n_probe by
    # (sim desc, cid desc))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("cell", cell_of(F.col("c_vec")))

    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("cell", F.explode(probes_of(F.col("q_vec"))))
        .select("query_id", "q_vec", "cell")
    )
    cands = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim(
                    F.col("q_vec").cast("array<double>"),
                    F.col("c_vec").cast("array<double>"),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    train_sample: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space around k centroids, then look for near-duplicate
    pairs ONLY within each cluster — the pair cost drops from O(n²) to
    O(Σ cᵢ²) ≈ n²/k, and at corpus scale k grows with n (SemDeDup uses
    ~100k clusters for 100M examples) so clusters stay bounded.

    Returns the corpus keyed rows annotated with ``cluster`` (int) and
    ``is_dup`` (bool): a row is a duplicate iff some row with a SMALLER id
    in the same cluster has cosine similarity ≥ ``threshold`` (rounded to
    6 dp, the engine's quantized-cosine convention — see ivf_topk). The
    keep-lowest-id rule is the deterministic greedy variant of SemDeDup's
    one-per-ε-group selection: no transitive closure, so the decision for
    a row never depends on which OTHER rows were dropped, and the whole
    operator replays exactly in SQL (the driver oracle). Filter
    ``~is_dup`` for the surviving corpus.

    Centroids: caller-supplied, or the deterministic seeded mini-k-means
    of :func:`train_centroids_from_corpus` (exact-replay training — the
    DuckDB oracle re-trains identical centroids from the same parquet).

    Scale shape: centroid assignment is a zero-shuffle Arrow-batched
    matmul with the centroid matrix broadcast in the UDF closure; the
    pair search is ONE exchange keyed on ``cluster`` followed by a
    per-cluster join; the dup verdict is a left-semi join keyed on the
    same cluster column (co-partitioned with the pair exchange). Nothing
    materializes driver-side beyond the k×dim centroid list.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if centroids is not None:
        cents = centroids
    else:
        cents = train_centroids_from_corpus(
            corpus, id_col, vec_col, n_clusters, train_sample, seed
        )
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    C = np.asarray(cents, dtype=np.float64)
    Cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).T

    @F.pandas_udf("integer")
    def cell_of(v: pd.Series) -> pd.Series:
        # same quantized argmax as ivf_topk.cell_of: 6-dp rounding, ties
        # to the HIGHEST cid — training/serving/oracle all agree
        M = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M = M / np.where(norms == 0, 1.0, norms)
        sims = np.round(M @ Cn, 6)
        return pd.Series(
            (sims.shape[1] - 1) - np.argmax(sims[:, ::-1], axis=1)
        ).astype("int32")

    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), cell_of(F.col(vec_col)).alias("cluster")
    )
    a = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
    )
    dup_ids = (
        a.join(b, on="cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            F.round(
                cosine_sim(
                    F.col("_va").cast("array<double>"),
                    F.col("_vb").cast("array<double>"),
                ),
                6,
            )
            >= F.lit(threshold)
        )
        .select(F.col("cluster"), F.col("_idb").alias(id_col))
        .distinct()
    )
    return (
        assigned.alias("x")
        .join(
            dup_ids.withColumn("_dup", F.lit(True)).alias("d"),
            on=["cluster", id_col],
            how="left",
        )
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )
