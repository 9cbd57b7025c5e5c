"""Stage-1 candidate generation: LSH band buckets → pairs → vote gate.

Spark-first re-expression of the reference's inverted index + vote counting
(mhap/impl/MinHashSearch.java:85-204): the per-slot hash maps become a
shuffle on the band key; the per-probe vote counter becomes
``groupBy(src, dst).count()``; the ``numMinMatches`` gate (:204) becomes a
HAVING filter.  Pair-order dedup (``src < dst``, :199-219) is a predicate.

Skew handling (north rule "salted repartition + hash-join + groupBy with
explicit skew mitigation for hot bands"):

* one window over the bucket key (:func:`sized_buckets`) sizes every
  bucket BEFORE any list is collected, so a mega-bucket can never
  materialize;
* buckets larger than ``max_bucket_size`` are dropped (pairs mode) or
  salted (star mode) and counted in the funnel metrics — the scale analog
  of the reference's popular-k-mer noise suppression
  (mhap/sketch/FrequencyCounts.java:171-186);
* pairs mode, substring and SimHash blocking share one emitter,
  :func:`capped_bucket_pairs`; its ``stored`` flag is the reference's
  ``--min-store-length`` (MhapMain.java:79), so the cap counts stored
  rows and one bucket emits at most rows × cap pairs; star mode shares
  the sizing window and emits linear hub edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from mhap_spark.config import MhapConfig


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
    window output of the pairs/star plans it is ``image_id == hub`` (the
    minimum stored id, see sized_buckets), so the aggregates equal the
    one-row-per-bucket values.

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


def sized_buckets(
    rows: DataFrame, keys: list[str], id_col: str, stored=None, funnel=None
) -> DataFrame:
    """``rows`` plus, from ONE window over the bucket key: ``bucket_size``
    (stored rows — what the cap is checked against), ``n_rows`` and
    ``hub`` (the minimum stored id, so ``id_col == hub`` picks one row per
    bucket).  ``stored`` is a boolean column over ``rows``, every row when
    None; ``funnel`` = ``(Observation, exprs)`` rides this output."""
    from pyspark.sql import Window

    # a bare column when every row is stored: a CASE here would be
    # projected below the key exchange and shuffle every id twice
    sid = F.col(id_col) if stored is None else F.when(stored, F.col(id_col))
    w = Window.partitionBy(*keys)
    sized = rows.select(
        "*",
        F.count(sid).over(w).alias("bucket_size"),
        F.count(F.lit(1)).over(w).alias("n_rows"),
        F.min(sid).over(w).alias("hub"),
    )
    return sized if funnel is None else sized.observe(funnel[0], *funnel[1])


def capped_bucket_pairs(
    rows: DataFrame, keys: list[str], id_col: str, cap: int,
    stored=None, carry: tuple[str, ...] = (), funnel=None,
) -> DataFrame:
    """``(src, dst, l, r)``, src < dst, once per shared capped bucket;
    ``l``/``r`` are the members: structs ``(id, *carry, stored)``, or bare
    ids when there is nothing to carry.

    A bucket with ≥ 2 rows and 1..``cap`` stored rows collects its members
    and, in the same aggregate, its stored members (the rest are dropped
    before any list forms); each member pairs with each stored member,
    keeping ``l != r`` and ``(not l.stored or l < r)``.  So each unordered
    pair with a stored side appears once, and a bucket emits at most
    rows × cap pairs.  The groupBy reuses the window's hash partitioning:
    one exchange on the key.  With every row stored the flag and the
    second list are left out and the test is ``l < r`` alone — on 10k rows
    and 4 cores the constant flag, a stored-member list (then a filter
    over the members) and least/greatest cost about 20 % of the
    emission."""
    sized = sized_buckets(rows, keys, id_col, stored, funnel)
    fields = list(carry) + ([] if stored is None else [stored.alias("stored")])
    member = F.struct(F.col(id_col).alias("id"), *fields) if fields else F.col(id_col)
    lists = [F.collect_list(member).alias("ms")]
    if stored is not None:
        # collect_list skips nulls, so this keeps the stored members only
        lists.append(F.collect_list(F.when(stored, member)).alias("rs"))
    members = (
        sized.where(
            (F.col("n_rows") >= 2) & F.col("bucket_size").between(1, cap)
        )
        .groupBy(*keys)
        .agg(*lists)
    )
    l, r = F.col("l"), F.col("r")
    lid, rid = (l["id"], r["id"]) if fields else (l, r)
    if stored is None:
        rs, keep, src, dst = "ms", lid < rid, lid, rid
    else:
        rs = "rs"
        keep = (lid != rid) & (~l["stored"] | (lid < rid))
        src, dst = F.least(lid, rid), F.greatest(lid, rid)
    return (
        members.select(F.explode("ms").alias("l"), rs)
        .select("l", F.explode(rs).alias("r"))
        .where(keep)
        .select(src.alias("src"), dst.alias("dst"), "l", "r")
    )


def _pairs_star(bands: DataFrame, cfg: MhapConfig, funnel=None) -> DataFrame:
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

    sized = sized_buckets(bands, ["band_hash"], "image_id", funnel=funnel)
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
        F.when(is_subhub, F.col("sub_hub") != F.col("hub")).otherwise(F.lit(True)),
    ).otherwise(
        (F.col("bucket_size") >= 2) & (F.col("image_id") != F.col("hub"))
    )
    return sub.where(keep).select(
        F.when(over & ~is_subhub, F.col("sub_hub"))
        .otherwise(F.col("hub"))
        .alias("src"),
        F.when(over & is_subhub, F.col("sub_hub"))
        .otherwise(F.col("image_id"))
        .alias("dst"),
        over.alias("oversize"),
    )


def candidate_pairs(
    signatures: DataFrame,
    cfg: MhapConfig,
    funnel_obs: Observation | None = None,
) -> DataFrame:
    """signatures → (src, dst, votes, ...) with src < dst, votes ≥ gate.

    mode "pairs": votes = number of shared bands (shared slots when
    rows_per_band=1 — exactly the reference's vote semantics,
    mhap/impl/MinHashSearch.java:161-204), gate = min_band_matches.
    mode "star": linear-cost emission for cluster workloads; gate =
    star_min_votes; adds ``any_oversize``.

    ``funnel_obs``: optional Observation — the bucket-funnel metrics
    (n_buckets, capped, max size, candidates generated) are then computed as
    a side effect of whatever action first materializes the pairs, instead
    of a separate job re-scanning the band table (round-1 Amdahl fix).

    With cfg.min_store_shingles > 0 (the reference's --min-store-length,
    mhap/main/MhapMain.java:79): rows below the threshold probe the index
    but are not stored in it — the ``stored`` flag of the one pairs window,
    so a bucket's cap and funnel count its stored rows only; a (short,
    long) pair is found through the long row, (short, short) pairs are
    skipped — exactly the reference's index-size/recall trade.  Star mode
    has no probe/store asymmetry (hub emission), so combining them is
    rejected loudly.
    """
    funnel = None
    if funnel_obs is not None:
        funnel = (funnel_obs, _funnel_exprs(cfg, F.col("image_id") == F.col("hub")))
    if cfg.candidate_mode == "star":
        if cfg.min_store_shingles > 0:
            raise ValueError(
                "min_store_shingles applies to pairs candidate mode; "
                "star-mode hub emission has no probe/store asymmetry"
            )
        pairs = _pairs_star(exploded_bands(signatures), cfg, funnel=funnel)
        gate = cfg.star_min_votes
        # edges that EVER came out of an oversize (salted) bucket pass at
        # votes ≥ 1: sub-bucket membership jitters across bands when bucket
        # sizes change n_salt, so the vote gate would split an edge's votes
        # and fragment the mega-cluster; stage-2 verify is the real filter
        # for these (volume stays linear — size−1 edges per bucket).
        # ``any_oversize`` rides downstream so the pipeline can measure the
        # purity of the votes≥1 relaxation (how many oversize-relaxed edges
        # survive verify).
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
        )
    stored = None
    if cfg.min_store_shingles > 0:
        stored = F.col("n_shingles") >= F.lit(cfg.min_store_shingles)
    bands = signatures.select(
        "image_id", "n_shingles", F.explode("bands").alias("band_hash")
    )
    pairs = capped_bucket_pairs(
        bands, ["band_hash"], "image_id", cfg.max_bucket_size,
        stored=stored, funnel=funnel,
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= F.lit(cfg.min_band_matches()))
    )
