"""Iterative DataFrame connected components: large-star / small-star.

No reference analog (clustering is the graft's addition per the north rule);
algorithm from Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) — converges in O(log n) rounds, each round two
groupBy-min + join passes over the edge set.  ``localCheckpoint`` after each
round cuts the lineage so plans stay bounded at web scale; convergence is
detected by an (edge-count, order-insensitive checksum) fixpoint, no
driver-side edge collection ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mhap_spark.config import CC_DRIVER_FINISH_EDGES

# large/small-star rounds per convergence check in connected_components
CHECK_EVERY = 2
# edges per shuffle partition of the connected_components loop
TARGET_ROWS_PER_TASK = 250_000


def _large_star(edges: DataFrame, width: int, hints: bool = True) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.

    No distinct here — duplicate edges pass through min-aggregations
    unchanged and are collapsed once per round in _small_star (every
    distinct is a full shuffle of the edge set).

    ``width`` sizes THIS plan's shuffles: the explicit repartition on the
    group key hash-partitions sym into ``width`` partitions, which satisfies
    the clustering requirement of both the groupBy and the join, so neither
    adds an exchange — the loop's width is a property of the plan, not of
    mutable session conf (round-3 VERDICT task 10 / ADVICE: no cross-query
    leakage, no save/restore race between concurrent CC calls)."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    ).repartition(width, "u")
    # shuffle_hash hint: mins has the same cardinality class as the edge set
    # (one row per node), so AQE must never pick broadcast for it — at 3M
    # input rows its runtime estimate did exactly that and the multi-GB
    # driver-side hash build OOMed the JVM (round-4 scale cliff); the hinted
    # join is also exchange-free, sym is already hash-partitioned on u
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins.hint("shuffle_hash") if hints else mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame, width: int, hints: bool = True) -> DataFrame:
    """Orient edges high→low; for each high node a: m = min neighbors;
    emit (b, m) for b in N(a) ∪ {a}, b ≠ m.  Width discipline as in
    _large_star; the round-final dedup likewise pre-partitions on the full
    (src, dst) key so dropDuplicates adds no exchange."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
    ).repartition(width, "a")
    # same no-broadcast discipline as _large_star (mins scales with the nodes)
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    nbr_edges = (
        oriented.join(mins.hint("shuffle_hash") if hints else mins, "a")
        .select(F.col("b").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("a").alias("src"), F.col("m").alias("dst"))
    return (
        nbr_edges.unionAll(self_edges)
        .where(F.col("src") != F.col("dst"))
        .repartition(width, "src", "dst")
        .dropDuplicates()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Bounded driver-side finish: collect the (small) edge set via Arrow,
    run union-find with union-by-min + path compression, return the same
    (image_id, cluster_id = component-min) member→root mapping the
    large/small-star fixpoint produces.

    This is the latency-regime counterpart of the distributed loop
    (BENCH/BASELINE.md CC regime table: below ~1M edges every superstep is
    task-launch latency, not compute): one Arrow collect (≤ cutoff edges ×
    two short ids — a few hundred MB at the 8M default) + a linear
    union-find replaces 5+ shuffle stages × O(log n) rounds.  The measured
    crossover sits ABOVE the default (round 5, tools/cc_microbench.py:
    at 8M edges, identical checksums, 111.7 s here (vectorized contraction,
    BENCH/CC_CROSSOVER_r5_vecuf.json) vs 131.2 s for the loop in the same
    window — previously 144 s vs 266 s for the loop at
    32 cores in the same window).  Only ever invoked under an explicit
    edge-count cutoff, so the collect is bounded by configuration, not by
    data."""
    import numpy as np
    import pandas as pd

    pdf = edges.select("src", "dst").toPandas()
    both = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    codes, uniques = pd.factorize(both)
    # rank nodes by id so the root of every union tree is the component min
    order = np.argsort(uniques)
    rank = np.empty(len(uniques), dtype=np.int64)
    rank[order] = np.arange(len(uniques))
    ids_by_rank = uniques[order]
    n_edges = len(pdf)
    src_r, dst_r = rank[codes[:n_edges]], rank[codes[n_edges:]]

    # vectorized min-label contraction (round 5): the previous per-edge
    # Python find/union loop dominated the driver finish at the 8M-edge
    # cutoff (~5 s of pure-Python calls per 6M edges); this runs whole-array
    # rounds of edge relaxation (scatter-min of each edge's smaller label to
    # both endpoints) + pointer jumping (label = label[label] to fixpoint) —
    # O(log n) rounds of O(n + m) numpy work, measured 3.4× faster on a
    # realistic Zipf+mega-star edge set and exactly equal output (labels
    # only decrease, floored at the component min, which is reachable by
    # relaxation along any path — same fixpoint as union-by-min)
    n_nodes = len(uniques)
    label = np.arange(n_nodes, dtype=np.int64)
    while True:
        before = label.copy()
        m = np.minimum(label[src_r], label[dst_r])
        np.minimum.at(label, src_r, m)
        np.minimum.at(label, dst_r, m)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, before):
            break
    roots = label
    member = roots != np.arange(n_nodes)
    out = pd.DataFrame(
        {
            "image_id": ids_by_rank[member],
            "cluster_id": ids_by_rank[roots[member]],
        }
    )
    # the CC API is id-type-agnostic (the star loop, checksums and joins all
    # are) — derive the output type from the edges instead of assuming string
    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema["src"].dataType
    return edges.sparkSession.createDataFrame(
        out,
        StructType(
            [StructField("image_id", id_type), StructField("cluster_id", id_type)]
        ),
    )


def keep_manifest(clusters: DataFrame) -> DataFrame:
    """(image_id, cluster_id) → (image_id, cluster_id, keep): the per-row
    keep/drop decision a training-data dedup pass emits.  cluster_id is the
    component minimum (FIXTURES.md F4), so the canonical representative is
    exactly the row whose id IS its cluster_id — one codegen'd comparison,
    no extra shuffle.  ``filter(keep)`` = deduplicated corpus;
    ``filter(~keep)`` = drop manifest with cluster provenance.  Applied to
    :func:`connected_components`, it is source-agnostic: any duplicate-pair
    producer (MinHash bands, SimHash, embedding cosine, ANN candidates)
    yields a dedup keep manifest."""
    return clusters.withColumn(
        "keep", F.col("image_id") == F.col("cluster_id")
    )


def connected_components(
    pairs: DataFrame, vertices: DataFrame, max_iters: int = 50,
    driver_finish_edges: int = CC_DRIVER_FINISH_EDGES,
    no_broadcast_hints: bool = True,
) -> DataFrame:
    """pairs(src,dst) + vertices(image_id) → (image_id, cluster_id string).

    cluster_id = minimum member id of the component (FIXTURES.md F4);
    singletons map to themselves.

    ``CHECK_EVERY`` (2) large/small-star rounds run per convergence check:
    each check is a driver action (the ONE job that materializes the lazy
    localCheckpoint AND tests the fixpoint), so batching rounds halves the
    fixed driver latency of the CC loop — the dominant Amdahl term at small
    inputs (BENCH/BASELINE.md round-1 decomposition).  Cost: at most
    CHECK_EVERY−1 extra no-op rounds after the true fixpoint.

    The loop's shuffle width ADAPTS to the edge set: the verified-pair edge
    set is orders of magnitude smaller than the corpus and shrinks every
    round, but the session's ``spark.sql.shuffle.partitions`` is sized for
    the corpus (4×cores), so each of the ~5 shuffle stages per superstep
    paid corpus-scale task-launch overhead on a tiny, shrinking input — the
    one stage whose wall-clock GREW with cores (round-2 VERDICT:
    19.1 s @ 8c → 32.0 s @ 32c).  A pre-loop checksum materializes the
    deduped edge set at full session width (the one genuinely corpus-scale
    shuffle here) and yields its count, so EVERY superstep — including the
    first batch, where star-shaped dup components do most of their
    converging — runs at ceil(n / TARGET_ROWS_PER_TASK) partitions
    (250,000 edges each), capped at the session value.  Deliberately NO floor at the core count: these
    rounds are task-launch-latency-bound, so a 912k-edge set is better
    served by 4 partitions than by one per core (measured — a
    defaultParallelism floor left cc anti-scaling 14.4 s @ 8c → 20.0 s
    @ 32c because 32 cores still launched 8× the tasks per round); truly
    large edge sets hit the session cap and use every core.  The pre-loop
    checksum also exits before any superstep when the edge set is empty.

    The width is applied as explicit ``repartition(width, key)`` nodes inside
    each star pass (the hash partitioning then satisfies the downstream
    groupBy/join clustering, adding no extra exchange), NOT by mutating the
    session's ``spark.sql.shuffle.partitions`` — so a concurrent query on the
    same session never inherits the loop's width and two concurrent CC calls
    cannot race a save/restore (round-3 VERDICT task 10).  Partition count
    never affects the result — only the fixpoint does.

    ``driver_finish_edges`` is the LATENCY-regime escape hatch: when
    the (deduped, pre-loop or mid-loop) edge set is at or below the cutoff,
    the remaining contraction runs as one driver-side union-find
    (_driver_union_find) instead of more supersteps.  Sound because
    large/small-star preserve component structure and never eliminate a
    component's minimum (it is every node's contraction target), so
    union-by-min over the current edge set yields exactly the fixpoint's
    member→root mapping — pinned identical by
    tests/test_engine_parity.py::test_cc_driver_finish_equivalent.  At the
    10^12-row design point the edge set (≈ one per duplicate member even at
    the fixpoint) stays far above any sane cutoff and the distributed loop
    runs as before; the cutoff bounds the collect by configuration, not by
    data.  Default: the measured ``config.CC_DRIVER_FINISH_EDGES``; pass 0
    for the pure loop (the CC microbench and the loop-parity tests do).
    """
    spark = pairs.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def width(n_edges: int) -> int:
        return min(session_parts, max(1, -(-n_edges // TARGET_ROWS_PER_TASK)))

    edges = pairs.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    # lazy localCheckpoint + pre-loop checksum: one job that materializes the
    # dedup at session width AND yields the count that sizes the loop
    edges = edges.localCheckpoint(eager=False)
    member_root = None
    converged = True
    prev = _checksum(edges)
    if 0 < prev[0] <= driver_finish_edges:
        member_root = _driver_union_find(edges)
    elif prev[0] > 0:
        converged = False
        w = width(prev[0])
        for _ in range(0, max_iters, CHECK_EVERY):
            for _r in range(CHECK_EVERY):
                edges = _small_star(
                    _large_star(edges, w, no_broadcast_hints), w, no_broadcast_hints
                )
            edges = edges.localCheckpoint(eager=False)
            cur = _checksum(edges)
            if cur == prev:
                converged = True
                break
            if 0 < cur[0] <= driver_finish_edges:
                member_root = _driver_union_find(edges)
                converged = True
                break
            prev = cur
            w = width(cur[0])

    if member_root is None:
        if not converged:
            # a non-fixpoint edge set is NOT a (member → root) mapping —
            # reading it as one returns duplicated/conflicting assignments;
            # fail loudly instead of silently emitting wrong clusters
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                f"large/small-star rounds (edge checksum still changing: "
                f"{prev}); raise max_iters or driver_finish_edges"
            )
        # At the fixpoint every edge is (member → root). Roots + singletons
        # map to self.
        member_root = edges.select(
            F.col("src").alias("image_id"), F.col("dst").alias("cluster_id")
        )
    return (
        vertices.select("image_id")
        # member_root scales with the duplicate membership (≈ corpus size on
        # dup-heavy data) — same no-broadcast discipline as the loop joins
        .join(
            member_root.hint("shuffle_hash") if no_broadcast_hints else member_root,
            "image_id",
            "left",
        )
        .select(
            "image_id",
            F.coalesce("cluster_id", "image_id").alias("cluster_id"),
        )
    )
