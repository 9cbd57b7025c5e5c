"""Stage-1 candidate generation: LSH band buckets → pairs → vote gate.

Spark-first re-expression of the reference's inverted index + vote counting
(mhap/impl/MinHashSearch.java:85-204): the per-slot hash maps become a
shuffle on the band key; the per-probe vote counter becomes
``groupBy(src, dst).count()``; the ``numMinMatches`` gate (:204) becomes a
HAVING filter.  Pair-order dedup (``src < dst``, :199-219) is a predicate.

Skew handling (north rule "salted repartition + hash-join + groupBy with
explicit skew mitigation for hot bands"):

* a window count sizes every bucket BEFORE any list is collected, so a
  mega-bucket can never materialize;
* buckets larger than ``max_bucket_size`` are dropped (pairs mode) or
  salted (star mode) and counted in the funnel metrics — the scale analog
  of the reference's popular-k-mer noise suppression
  (mhap/sketch/FrequencyCounts.java:171-186);
* both modes emit from one window over the band_hash exchange: pairs mode
  collects each eligible bucket and double-explodes it, star mode emits
  linear hub edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from mhap_spark.config import MhapConfig
from mhap_spark.hints import scaled


def exploded_bands(signatures: DataFrame) -> DataFrame:
    """(image_id, band_hash) — one row per signature band.  The band index is
    already folded into band_hash (minhash.band_hashes salts the accumulator
    with the band ordinal), so carrying it separately would only widen every
    shuffle row and key."""
    return signatures.select(
        "image_id", F.explode("bands").alias("band_hash")
    )


def bucket_sizes(bands: DataFrame) -> DataFrame:
    """Bucket cardinalities; partial-agg safe under skew."""
    return bands.groupBy("band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )


def _funnel_exprs(cfg: MhapConfig, is_hub=None) -> list:
    """Aggregate expressions for the funnel metrics, evaluated as an
    Observation on the plan that sizes the buckets (zero extra jobs).

    ``is_hub`` selects exactly one row per bucket: over one-row-per-bucket
    input (``bucket_sizes``) it is omitted (every row counts); over the
    window output of the pairs/star plans it is ``image_id == bucket min``,
    so the aggregates equal the one-row-per-bucket values.

    ``candidate_pairs_generated`` counts emitted edges exactly: C(n,2) per
    eligible bucket in pairs mode, n−1 per bucket in star mode — where
    oversize buckets count too (salted emission still produces exactly n−1
    edges per bucket: members minus sub-hubs, plus sub-hub chain links; the
    global min is always its own sub-bucket's hub).
    ``n_buckets_capped`` counts over-cap buckets in every mode — dropped in
    pairs mode, salted in star mode."""
    if is_hub is None:
        is_hub = F.lit(True)
    star = cfg.candidate_mode == "star"
    per_bucket = (
        F.col("bucket_size") - 1
        if star
        else F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
    )
    counted = (
        F.col("bucket_size") >= 2
        if star
        else F.col("bucket_size").between(2, cfg.max_bucket_size)
    )
    return [
        F.count(F.when(is_hub, 1)).alias("n_buckets"),
        F.sum(
            F.when(is_hub & (F.col("bucket_size") > cfg.max_bucket_size), 1)
            .otherwise(0)
        ).alias("n_buckets_capped"),
        F.max("bucket_size").alias("max_bucket_size_seen"),
        F.sum(F.when(is_hub & counted, per_bucket).otherwise(0)).alias(
            "candidate_pairs_generated"
        ),
    ]


def _pairs_grouped_onepass(
    bands: DataFrame, cfg: MhapConfig, funnel_obs: Observation | None = None
) -> DataFrame:
    """Pairs-mode emission: bucket sizing via a window count over the SAME
    exchange the collect_list groupBy uses, so the upstream plan (for an
    unpersisted signature source, the whole Arrow sketch kernel) is
    evaluated once.  The mega-bucket discipline holds: the count is
    computed without collecting any list (WindowExec sorts, spills, and
    never materializes a bucket), over-cap buckets are filtered BEFORE
    collect_list, and the groupBy reuses the window's hash partitioning so
    no second exchange appears.  Pairs are emitted by a double explode
    inside whole-stage codegen.

    ``funnel_obs`` rides the window output the way star mode's does: the
    bucket min is added to the same window only when metrics are requested,
    and hub rows (image_id == min, one per bucket) carry the per-bucket
    sums — pinned exact against ``bucket_sizes`` by tests/test_engine_parity.py."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_hash")
    sized = bands.withColumn("bucket_size", F.count(F.lit(1)).over(w))
    if funnel_obs is not None:
        sized = sized.withColumn("hub", F.min("image_id").over(w)).observe(
            funnel_obs, *_funnel_exprs(cfg, F.col("image_id") == F.col("hub"))
        )
    grouped = (
        sized.where(F.col("bucket_size").between(2, cfg.max_bucket_size))
        .groupBy("band_hash")
        .agg(F.collect_list("image_id").alias("ids"))
    )
    return (
        grouped.select(F.explode("ids").alias("src"), "ids")
        .select("src", F.explode("ids").alias("dst"))
        .where(F.col("src") < F.col("dst"))
    )


def _pairs_star(
    bands: DataFrame, cfg: MhapConfig, funnel_obs: Observation | None = None
) -> DataFrame:
    """Star emission: one (bucket-min → member) edge per bucket member —
    O(n) per bucket.  Connectivity within a bucket is preserved through the
    hub, so the downstream connected-components output is unchanged for any
    bucket whose hub verifies against its members (near-identical rows).
    src < dst holds by construction (src is the bucket minimum).

    Buckets larger than the cap: members are salted into ceil(size/cap)
    sub-buckets by crc32(image_id); each sub-bucket emits (sub-hub → member)
    edges and the sub-hubs chain to the bucket's global min — still exactly
    size−1 edges (the global min is always its own sub-bucket's hub).  What
    the salt bounds is the fan-out of one edge source: each sub-hub is the
    ``src`` of about ``cap`` edges into the vote groupBy, the verify ``src``
    join and CC.  It does not split a bucket across tasks: the band rows
    are exchanged on band_hash before the first window, so every bucket
    lands whole in one task.  A 10^12-row corpus' boilerplate
    mega-clusters (size ≫ cap in EVERY band) stay connected instead of
    silently fragmenting under the old drop-only behavior.  The emitted
    ``oversize`` flag lets the vote gate relax to 1 for these edges
    (see candidate_pairs); salt assignment is crc32 so the numpy oracle
    (zlib.crc32) replicates it bit-exactly.

    Physical shape (round-6 rewrite, guide §2.4): ONE window over the
    band_hash exchange computes bucket size AND hub attached to every band
    row, so edge emission is a filter + projection — no stats aggregation
    joined back, no second shuffle of the exploded bands (the pre-round-6
    groupBy+join form shuffled the 128-band explosion twice and re-scanned
    the signature cache for each side; the wave profile measured those as
    the largest candidate-stage jobs).  WindowExec sorts and spills, never
    materializes a bucket, so the mega-bucket discipline is unchanged.  The
    oversize path adds no exchange: the (band_hash, salt) sub-hub window
    re-sorts all band rows inside the band_hash partitioning, whether or
    not any bucket is oversize.  The funnel Observation moves to the
    window output: hub rows (image_id == src, exactly one per bucket)
    carry the per-bucket metrics, so the aggregate values are identical to
    the old one-row-per-bucket form — pinned exact by
    tests/test_star_mode.py (including the oversize mega adversary)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_hash")
    sized = bands.select(
        "band_hash",
        "image_id",
        F.count(F.lit(1)).over(w).alias("bucket_size"),
        F.min("image_id").over(w).alias("src"),
    )
    if funnel_obs is not None:
        sized = sized.observe(
            funnel_obs, *_funnel_exprs(cfg, F.col("image_id") == F.col("src"))
        )
    # Salt path, fused into the SAME chain: every row emits AT MOST ONE edge
    # (normal member → hub edge; oversize member → sub-hub edge; oversize
    # sub-hub row → chain edge to the bucket min), so the three former
    # union branches collapse to one CASE projection.  The sub-hub window
    # partitions by (band_hash, salt) — a superset of the band_hash hash
    # partitioning already established, so it adds only a per-partition
    # sort, no exchange, and the whole star emission is one linear plan
    # (the union form re-executed the bucket-size window once per branch).
    # A bucket is entirely normal or entirely oversize (size is a bucket
    # property), so the salt-0 groups of normal buckets never mix with
    # oversize sub-buckets.
    cap = cfg.max_bucket_size
    over = F.col("bucket_size") > cap
    salted = sized.withColumn(
        "salt",
        F.when(
            over,
            F.pmod(
                F.crc32(F.encode("image_id", "UTF-8")),
                F.expr(f"(bucket_size + {cap - 1}) div {cap}"),
            ),
        ).otherwise(F.lit(0)),
    )
    w2 = Window.partitionBy("band_hash", "salt")
    sub = salted.withColumn("sub_hub", F.min("image_id").over(w2))
    is_subhub = F.col("image_id") == F.col("sub_hub")
    keep = F.when(
        over,
        F.when(is_subhub, F.col("sub_hub") != F.col("src")).otherwise(F.lit(True)),
    ).otherwise(
        (F.col("bucket_size") >= 2) & (F.col("image_id") != F.col("src"))
    )
    return sub.where(keep).select(
        F.when(over & ~is_subhub, F.col("sub_hub"))
        .otherwise(F.col("src"))
        .alias("src"),
        F.when(over & is_subhub, F.col("sub_hub"))
        .otherwise(F.col("image_id"))
        .alias("dst"),
        over.alias("oversize"),
    )


def probe_candidates(
    probe_sigs: DataFrame, indexed_sigs: DataFrame, cfg: MhapConfig,
    funnel_obs: Observation | None = None,
) -> DataFrame:
    """Two-table mode — the reference's ``-q`` usage (stream query sequences
    against an indexed set, mhap/main/MhapMain.java:511-541;
    ``findMatches(toSelf=false)`` mhap/impl/MinHashSearch.java:200): probe rows
    are matched against the indexed table with no pair-order pruning.

    Returns (probe_id, index_id, votes ≥ gate).  The indexed side's bucket
    sizes are capped exactly like the pairs-mode path.

    ``funnel_obs`` (optional) rides the INDEX side's bucket sizes — in probe
    mode ``candidate_pairs_generated`` therefore counts both-stored bucket
    pairs (the symmetric-index formula), a lower bound on probe candidates;
    the bucket counts/cap/max metrics are exact for the index."""
    probe = exploded_bands(probe_sigs).withColumnRenamed("image_id", "probe_id")
    index = exploded_bands(indexed_sigs).withColumnRenamed("image_id", "index_id")
    sizes = bucket_sizes(index)
    if funnel_obs is not None:
        sizes = sizes.observe(funnel_obs, *_funnel_exprs(cfg))
    index_ok = index.join(
        scaled(sizes.where(F.col("bucket_size") <= cfg.max_bucket_size), cfg),
        ["band_hash"],
    )
    return (
        probe.join(scaled(index_ok, cfg), ["band_hash"])
        .where(F.col("probe_id") != F.col("index_id"))
        .groupBy("probe_id", "index_id")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= F.lit(cfg.min_band_matches()))
    )


def candidate_pairs(
    signatures: DataFrame,
    cfg: MhapConfig,
    funnel_obs: Observation | None = None,
    keep_oversize_flag: bool = False,
) -> DataFrame:
    """signatures → (src, dst, votes) with src < dst, votes ≥ gate.

    mode "pairs": votes = number of shared bands (shared slots when
    rows_per_band=1 — exactly the reference's vote semantics,
    mhap/impl/MinHashSearch.java:161-204), gate = min_band_matches.
    mode "star": linear-cost emission for cluster workloads; gate =
    star_min_votes.

    ``funnel_obs``: optional Observation — the bucket-funnel metrics
    (n_buckets, capped, max size, candidates generated) are then computed as
    a side effect of whatever action first materializes the pairs, instead
    of a separate job re-scanning the band table (round-1 Amdahl fix).

    With cfg.min_store_shingles > 0 (the reference's --min-store-length,
    mhap/main/MhapMain.java:79): rows below the threshold probe the index
    but are not stored in it — implemented as the asymmetric probe join
    (probe side = everyone, index side = stored rows only) with unordered
    canonicalization.  A both-stored pair is found from either direction
    with identical votes (same shared-band set), so groupBy-max dedup is
    exact; a (short, long) pair is found only via the long row's index
    entry; (short, short) pairs are skipped — exactly the reference's
    index-size/recall trade.  Star mode has no probe/store asymmetry
    (hub emission), so combining them is rejected loudly.
    """
    if cfg.min_store_shingles > 0:
        if cfg.candidate_mode == "star":
            raise ValueError(
                "min_store_shingles applies to pairs candidate mode; "
                "star-mode hub emission has no probe/store asymmetry"
            )
        stored = signatures.where(
            F.col("n_shingles") >= F.lit(cfg.min_store_shingles)
        )
        found = probe_candidates(signatures, stored, cfg, funnel_obs=funnel_obs)
        return (
            found.select(
                F.least("probe_id", "index_id").alias("src"),
                F.greatest("probe_id", "index_id").alias("dst"),
                "votes",
            )
            .groupBy("src", "dst")
            .agg(F.max("votes").alias("votes"))
        )
    bands = exploded_bands(signatures)
    if cfg.candidate_mode == "star":
        pairs = _pairs_star(bands, cfg, funnel_obs=funnel_obs)
        gate = cfg.star_min_votes
        # edges that EVER came out of an oversize (salted) bucket pass at
        # votes ≥ 1: sub-bucket membership jitters across bands when bucket
        # sizes change n_salt, so the vote gate would split an edge's votes
        # and fragment the mega-cluster; stage-2 verify is the real filter
        # for these (volume stays linear — size−1 edges per bucket).
        # ``keep_oversize_flag`` carries the flag downstream so the pipeline
        # can measure the purity of the votes≥1 relaxation (how many
        # oversize-relaxed edges survive verify).
        cols = ["src", "dst", "votes"] + (
            ["any_oversize"] if keep_oversize_flag else []
        )
        return (
            pairs.groupBy("src", "dst")
            .agg(
                F.count(F.lit(1)).alias("votes"),
                F.max("oversize").alias("any_oversize"),
            )
            .filter(
                F.col("votes")
                >= F.when(F.col("any_oversize"), F.lit(1)).otherwise(F.lit(gate))
            )
            .select(*cols)
        )
    pairs = _pairs_grouped_onepass(bands, cfg, funnel_obs=funnel_obs)
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= F.lit(cfg.min_band_matches()))
    )
