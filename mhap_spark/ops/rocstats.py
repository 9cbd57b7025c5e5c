"""Retrieval-quality estimation — the engine's EstimateROC analog
(mhap/main/EstimateROC.java:173-262: sensitivity / specificity / PPV of an
overlap set against truth clusters).

Works on DataFrames end-to-end: truth pairs are derived from a
(image_id, true_cluster) table with a self-join, compared to found pairs by
full outer join — no driver-side pair materialization.

Scale discipline (round-2 VERDICT fix): the intra-cluster self-join is
quadratic in cluster size, so a planted Zipf cluster of 10⁶ members would
explode to 5·10¹¹ truth pairs.  The reference hits the same wall and samples
10,000 trials instead of counting exactly (mhap/main/EstimateROC.java:72,
802-840); we sample the same way but deterministically: clusters above
``max_cluster_members`` are represented by a hash-ranked member subset
(xxhash64 rank — reproducible, partition-order-free), exact below the cap.
All metrics are then computed over the KEPT id universe — truth pairs,
found pairs, and the C(n,2) denominator all restrict to kept ids, so
tp/fp/fn/tn stay mutually consistent (and tn can never go negative from
found ids outside the truth table — those pairs are excluded and surfaced
in ``found_outside_universe``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: Cluster-size cap above which truth membership is hash-sampled.  C(4096,2)
#: ≈ 8.4M pairs per hot cluster — bounded, and exact for every cluster a
#: well-tuned dedup corpus actually contains.
DEFAULT_MAX_CLUSTER_MEMBERS = 4096


def kept_truth(
    truth: DataFrame, max_cluster_members: int | None = DEFAULT_MAX_CLUSTER_MEMBERS
) -> DataFrame:
    """(image_id, true_cluster) → same shape, with clusters above the cap
    cut to their ``max_cluster_members`` lowest-xxhash64 members.

    Window sort is per-cluster O(m log m) — never the O(m²) of the pair
    join it protects; rank by (hash, id) is total, so the sample is unique
    and byte-stable across partitionings."""
    if max_cluster_members is None:
        return truth
    w = Window.partitionBy("true_cluster").orderBy(
        F.xxhash64("image_id"), F.col("image_id")
    )
    return (
        truth.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_cluster_members)
        .drop("_rk")
    )


def truth_pairs_df(
    truth: DataFrame, max_cluster_members: int | None = DEFAULT_MAX_CLUSTER_MEMBERS
) -> DataFrame:
    """(image_id, true_cluster) → intra-cluster (src, dst), src < dst, over
    the (capped — see kept_truth) membership.  The self-join shuffles on the
    cluster id; the cap bounds every bucket before the join forms a pair."""
    kept = kept_truth(truth, max_cluster_members)
    l = kept.select(F.col("image_id").alias("src"), F.col("true_cluster").alias("c"))
    r = kept.select(F.col("image_id").alias("dst"), F.col("true_cluster").alias("c"))
    # distinct: duplicated membership rows or overlapping clusters would
    # emit the same (src, dst) twice and double-count tp/fn downstream
    # (driving tn negative); bounded by the capped pair set
    return (
        l.join(r, "c")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _confusion_parts(
    found: DataFrame,
    truth: DataFrame,
    max_cluster_members: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared sub-plans of pair_confusion and pair_confusion_with_rescue:
    (kept id universe, distinct found pairs, found pairs restricted to the
    universe, capped truth pairs) — built once so the rescue path does not
    re-run the capped window sort and the quadratic truth self-join."""
    kept = kept_truth(truth, max_cluster_members)
    ids = kept.select(F.col("image_id").alias("_id")).distinct()
    f_all = found.select("src", "dst").distinct()
    f = f_all.join(ids.withColumnRenamed("_id", "src"), "src", "left_semi").join(
        ids.withColumnRenamed("_id", "dst"), "dst", "left_semi"
    )
    return ids, f_all, f, truth_pairs_df(kept, None)


def pair_confusion(
    found: DataFrame,
    truth: DataFrame,
    max_cluster_members: int | None = DEFAULT_MAX_CLUSTER_MEMBERS,
    _parts: tuple | None = None,
) -> DataFrame:
    """One row: tp / fp / fn / tn / sensitivity / specificity / ppv
    (+ found_outside_universe).

    found: (src, dst) engine pairs (canonical src<dst);
    truth: (image_id, true_cluster).

    Specificity (mhap/main/EstimateROC.java:819-840) comes for free here:
    the reference must SAMPLE negative pairs because its truth is an interval
    index it can only probe pointwise, but with tabular truth the universe of
    pairs is exactly C(n,2) over the KEPT truth id set, so
    tn = C(n,2) − tp − fp − fn is exact, computed from one count-distinct —
    no negative pair ever materialized.  Found pairs with an endpoint outside
    that universe are excluded from the confusion counts (they'd make tn
    inconsistent/negative) and reported in ``found_outside_universe``."""
    ids, f_all, f, t = _parts or _confusion_parts(found, truth, max_cluster_members)
    f = f.withColumn("in_found", F.lit(1))
    t = t.withColumn("in_truth", F.lit(1))
    j = t.join(f.select("src", "dst", "in_found"), ["src", "dst"], "full_outer")
    n_ids = ids.agg(F.count(F.lit(1)).alias("n_ids"))
    n_found_all = f_all.agg(F.count(F.lit(1)).alias("n_found_all"))
    # coalesce: F.sum over an EMPTY join (dup-free corpus, no in-universe
    # found pairs) is NULL, which would poison tn and every derived rate
    counts = j.agg(
        F.coalesce(F.sum(F.when(F.col("in_truth").isNotNull() & F.col("in_found").isNotNull(), 1).otherwise(0)), F.lit(0)).alias("tp"),
        F.coalesce(F.sum(F.when(F.col("in_truth").isNull() & F.col("in_found").isNotNull(), 1).otherwise(0)), F.lit(0)).alias("fp"),
        F.coalesce(F.sum(F.when(F.col("in_truth").isNotNull() & F.col("in_found").isNull(), 1).otherwise(0)), F.lit(0)).alias("fn"),
    )
    return (
        counts.crossJoin(F.broadcast(n_ids))
        .crossJoin(F.broadcast(n_found_all))
        .withColumn(
            "tn",
            (F.col("n_ids") * (F.col("n_ids") - 1) / 2).cast("long")
            - F.col("tp") - F.col("fp") - F.col("fn"),
        )
        .select(
            "tp",
            "fp",
            "fn",
            "tn",
            F.round(F.try_divide("tp", F.col("tp") + F.col("fn")), 6).alias("sensitivity"),
            F.round(F.try_divide("tn", F.col("tn") + F.col("fp")), 6).alias("specificity"),
            F.round(F.try_divide("tp", F.col("tp") + F.col("fp")), 6).alias("ppv"),
            (F.col("n_found_all") - F.col("tp") - F.col("fp")).alias(
                "found_outside_universe"
            ),
        )
    )


def cluster_confusion(
    clusters: DataFrame,
    truth: DataFrame,
    max_cluster_members: int | None = DEFAULT_MAX_CLUSTER_MEMBERS,
) -> DataFrame:
    """Pair confusion induced by CLUSTER assignments (co-clustered = found):
    the metric BASELINE.json grades (dup-pair recall vs reference clusters).
    clusters: (image_id, cluster_id).  Engine clusters get the same cap as
    truth clusters (an engine over-merge into one giant cluster must not
    blow up the evaluation either); sampling applies only above the cap."""
    # engine clusters reuse the exact truth-side cap + pair machinery
    # (kept_truth's hash-ranked window inside truth_pairs_df) — one
    # definition of the sampling rule, not a renamed copy
    found = truth_pairs_df(
        clusters.select("image_id", F.col("cluster_id").alias("true_cluster")),
        max_cluster_members,
    )
    return pair_confusion(found, truth, max_cluster_members)


def pair_confusion_with_rescue(
    found: DataFrame,
    truth: DataFrame,
    signatures: DataFrame,
    cfg,
    rescue_threshold: float | None = None,
    max_cluster_members: int | None = DEFAULT_MAX_CLUSTER_MEMBERS,
) -> DataFrame:
    """Confusion counts with FP RESCUE — the verify-rescore analog of the
    reference's Smith-Waterman rescue (mhap/main/EstimateROC.java:746-800:
    before counting a found-but-not-in-truth pair false, align it; pairs
    that truly overlap are rescued — the truth set, not the engine, was
    incomplete).

    Here the alignment is replaced by the engine's own stage-2 verify run
    at a LOOSER gate: fp-classified pairs are re-scored with bottom-k
    Jaccard (threshold = ``rescue_threshold``, default 0.9·cfg.threshold;
    min_jaccard disabled so only the identity gate
    binds) and pairs passing it move out of fp.  Output adds
    ``fp_rescued`` and ``ppv_rescued`` = tp_eff / (tp_eff + fp_final)
    with tp_eff = tp + fp_rescued, alongside the unrescued metrics."""
    from mhap_spark.verify import verified_pairs

    if rescue_threshold is None:
        rescue_threshold = 0.9 * cfg.threshold
    parts = _confusion_parts(found, truth, max_cluster_members)
    base = pair_confusion(found, truth, max_cluster_members, _parts=parts)
    _ids, _f_all, f, t = parts
    fp_pairs = f.join(t, ["src", "dst"], "left_anti")
    loose = cfg.with_overrides(threshold=rescue_threshold, min_jaccard=0.0)
    rescued = verified_pairs(
        fp_pairs.withColumn("votes", F.lit(1)), signatures, loose
    )
    n_rescued = rescued.agg(F.count(F.lit(1)).alias("fp_rescued"))
    return (
        base.crossJoin(F.broadcast(n_rescued))
        .withColumn("fp_final", F.col("fp") - F.col("fp_rescued"))
        .withColumn(
            "ppv_rescued",
            F.round(
                F.try_divide(
                    F.col("tp") + F.col("fp_rescued"),
                    F.col("tp") + F.col("fp_rescued") + F.col("fp_final"),
                ),
                6,
            ),
        )
    )
