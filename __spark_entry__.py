"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship near-dup pipeline on the sf0.001 documents table.
``queries`` exposes the engine's operator surface (SURVEY.md §2) over the
driver's parquet tables; every SQL-expressible one has a DuckDB oracle in
``oracle_sql`` with identical column names/values (floats are either exact —
integer-cent sums — or rounded to 6dp on both sides).
Hash/sketch-dependent operators are hash-checked through sequential numpy
replicas emitted as VALUES literals (mhap_spark/oracle_ops.py — DuckDB is
the comparator over independently-computed values, not the computer); since
round 4 the only rows-only query left is approx_distinct (Spark's HLL++ has
no independent sequential definition to replicate).
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mhap_spark.config import MhapConfig, hints_default_for_rows
from mhap_spark.ops.dedup import DOC_CFG

_ENTRY_CFG = DOC_CFG.with_overrides(
    min_jaccard=0.5,
    # documents tables are ≤5k rows at every test SF — far below the
    # measured 1M-row broadcast-OOM margin, so the size rule applies
    no_broadcast_hints=hints_default_for_rows(5000),
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate clustering of the sf0.001 documents table
    (caption-shingle MinHash → LSH bands → Jaccard verify → CC)."""
    from mhap_spark.pipeline import run_pipeline

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    src = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.col("text").alias("caption"),
        F.lit(0).cast("long").alias("phash"),
    )
    out = run_pipeline(spark, src, _ENTRY_CFG)
    return (
        out["clusters"]
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), F.asc("cluster_id"))
    )


# --------------------------------------------------------------------------
# SQL-checked queries
# --------------------------------------------------------------------------

def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).alias("sum_price_c"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                .cast("long")
            ).alias("sum_disc_price_x4"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("sum_qty_c") / 100.0).alias("sum_qty"),
            (F.col("sum_price_c") / 100.0).alias("sum_base_price"),
            (F.col("sum_disc_price_x4") / 10000.0).alias("sum_disc_price"),
            F.round(F.col("sum_qty_c") / 100.0 / F.col("count_order"), 6).alias("avg_qty"),
            "count_order",
        )
    )


def _q_revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("n_name", (F.col("rev_c") / 100.0).alias("revenue"), "n_orders")
    )


def _q_topk_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def _q_supplier_vote_pairs(spark, sf_dir):
    """MHAP vote-count analog (mhap/impl/MinHashSearch.java:161-204): supplier
    pairs sharing ≥ 40 distinct parts — join on the shared key, canonical
    src<dst, groupBy count, HAVING gate."""
    # one groupBy-collect_set + double explode instead of the former
    # distinct + self-equi-join (round-6 optimization, guide §2.4): the
    # shared-key pair enumeration is the same inverted-index pattern as
    # candidates.capped_bucket_pairs — the old plan scanned lineitem twice,
    # ran the (l_suppkey, l_partkey) distinct twice, and broadcast one
    # 160k-row side; this plan is one scan, one exchange on l_partkey
    # (collect_set dedupes suppliers per part — exactly the old distinct),
    # then the same (src < dst, count, >= 40) gate.  2 Exchanges vs 4,
    # 1 scan vs 2, no broadcast build.  Per-part supplier sets are
    # bounded by the supplier fan-out (TPC-H: 4), so the collected lists
    # stay tiny; the pair count per part is identical to the join's.
    # keyed repartition: the single-file scan otherwise runs the 8.7M-pair
    # explosion and its partial vote aggregation in ONE task (measured
    # 2.7 s → 1.5 s); hash-partitioning on the groupBy key means the
    # collect_set aggregation reuses this exchange — no extra shuffle — and
    # the explode + vote partial-agg then run at full width.  Conditional:
    # a multi-file input at scale already parallelizes and skips it.
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    par = spark.sparkContext.defaultParallelism
    if li.rdd.getNumPartitions() < par:
        li = li.repartition(par, "l_partkey")
    per_part = li.groupBy("l_partkey").agg(
        F.collect_set("l_suppkey").alias("sups")
    )
    return (
        per_part.select(F.explode("sups").alias("src_supp"), "sups")
        .select("src_supp", F.explode("sups").alias("dst_supp"))
        .where(F.col("src_supp") < F.col("dst_supp"))
        .groupBy("src_supp", "dst_supp")
        .agg(F.count(F.lit(1)).alias("votes"))
        .where(F.col("votes") >= 40)
    )


def _q_nations_with_both(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.distinct().intersect(s.distinct()).select(F.col("nk").alias("nationkey"))


def _q_word_df_ratio(spark, sf_dir):
    """tf-idf document-frequency table (mhap/sketch/FrequencyCounts.java analog)
    over word tokens of the documents table."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    words = d.select(
        F.explode(
            F.array_distinct(
                F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
            )
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .select(
            "word",
            "df_count",
            F.round(F.col("df_count") / F.lit(float(n_docs)), 6).alias("df_ratio"),
        )
        .where(F.col("df_ratio") >= 0.01)
    )


def _q_event_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def _q_event_type_entropy(spark, sf_dir):
    """Shannon entropy of the event_type distribution — the reference's
    hash-efficiency / skew diagnostic (mhap/utils/Utils.java:340-370)."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    return (
        counts.crossJoin(total)
        .select(
            (F.col("c") / F.col("t")).alias("p"),
        )
        .agg(F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy_bits"))
    )


def _q_exact_dedup_docs(spark, sf_dir):
    from mhap_spark.ops.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _q_word_jaccard_pairs(spark, sf_dir):
    from mhap_spark.ops.dedup import word_jaccard_pairs

    out = word_jaccard_pairs(
        _t(spark, sf_dir, "documents"), max_len_delta=20, min_jaccard=0.3
    )
    return out.select("src", "dst", F.round("jaccard", 6).alias("jaccard"))


def _q_token_stats(spark, sf_dir):
    from mhap_spark.ops.textstats import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


def _q_quality_score(spark, sf_dir):
    from mhap_spark.ops.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def _q_cosine_topk(spark, sf_dir):
    from mhap_spark.ops.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def _q_embedding_near_dup(spark, sf_dir):
    from mhap_spark.ops.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), min_cos=0.35, block_col="label"
    )


def _q_embedding_dedup_keep(spark, sf_dir):
    """Semantic-dedup keep manifest (SemDeDup-style): exact blocked cosine
    pairs → CC → canonical min-id representative.  Hash-checked via a
    sequential replica (oracle_ops.embedding_keep_rows — same JVM fold
    order as the other vector oracles, union-find with min-id roots)."""
    from mhap_spark.ops.similarity import embedding_dedup_keep

    return embedding_dedup_keep(
        _t(spark, sf_dir, "embeddings"), min_cos=0.35, block_col="label"
    )


def _q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
        )
    )


def _q_range_join(spark, sf_dir):
    """Interval/range join (EstimateROC truth-clustering analog,
    mhap/utils/IntervalTree.java → Spark conditional join, SURVEY.md §2.3):
    lineitems shipped within 30 days of their order's date."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            o,
            on=[
                li.l_orderkey == o.o_orderkey,
                li.l_shipdate >= o.o_orderdate,
                li.l_shipdate <= F.date_add(o.o_orderdate, 30),
            ],
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_shipped_30d"))
    )


def _q_median_value_by_type(spark, sf_dir):
    """Exact interpolated median (quickselect analog, mhap/utils/Utils.java:445-494)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value"),
    )


def _q_quantity_price_corr(spark, sf_dir):
    """Pearson correlation / regression stats (mhap/utils/Utils.java:382-441)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
    )


def _q_histogram_stats(spark, sf_dir):
    """GetHistogramStats semantics (mhap/main/GetHistogramStats.java:63-90)
    over the l_quantity value histogram: count-weighted mean, population
    stdev, and the smallest value whose running value·count mass (ascending)
    exceeds 99% of the total — the reference's auto-filter-threshold
    workflow, driven by freq.histogram_stats."""
    from mhap_spark.freq import histogram_stats

    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return histogram_stats(hist, percent=0.99).select(
        F.round("mean", 6).alias("mean"),
        F.round("stdev", 6).alias("stdev"),
        F.col("cut").cast("double").alias("cut"),
    )


def _q_pair_identity_scores(spark, sf_dir):
    """Mash identity transform (mhap/sketch/BottomOverlapSketch.java:391-395)
    applied to word-Jaccard pairs — scalar-function parity check."""
    from mhap_spark.ops.dedup import word_jaccard_pairs
    from mhap_spark.verify import jaccard_to_identity_col

    pairs = word_jaccard_pairs(
        _t(spark, sf_dir, "documents"), max_len_delta=20, min_jaccard=0.3
    )
    return pairs.select(
        "src",
        "dst",
        F.round("jaccard", 6).alias("jaccard"),
        F.round(jaccard_to_identity_col(F.col("jaccard"), 16), 6).alias("identity"),
    )


# --------------------------------------------------------------------------
# Rows-only queries (hash/sketch-dependent or synthetic-input)
# --------------------------------------------------------------------------

def _q_approx_distinct(spark, sf_dir):
    """HLL approximate aggregates (mhap/sketch/CountMin.java analog).
    Oracle-hash-checked since round 5: oracle_ops.hllpp_count_distinct is an
    exact sequential replica of Spark's HyperLogLog++ (xxhash64 seed-42
    registers, linear-counting cutover, K-nearest-knot bias interpolation
    over the published HLL++ paper tables in hll_constants.py) — register
    max-merge is order/partitioning-independent, so the replica predicts the
    distributed estimate to the last digit."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )

def _q_cms_word_freq(spark, sf_dir):
    """Count-min sketch heavy hitters (mhap/sketch/CountMin.java:42-111):
    CMS estimate next to exact count for the top-20 words.  The CMS
    guarantee (est ≥ exact, overestimate ≤ e/width·N whp) is pinned by
    tests/test_sketches.py; oracle-hash-checked since round 4 via a
    sequential sketch replica over Spark-compatible xxhash64 word keys
    (_cms_oracle_sql)."""
    import numpy as np

    from mhap_spark.ops.sketches import CountMin

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("word")
    )
    keyed = words.select("word", F.xxhash64("word").alias("key"))
    cms = CountMin.compute(keyed, "key", depth=4, width=4096)
    top = (
        keyed.groupBy("word", "key")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("word"))
        .limit(20)
        .collect()
    )
    est = cms.estimate(np.array([r["key"] for r in top], dtype=np.int64))
    rows = [(r["word"], int(r["exact_count"]), int(e)) for r, e in zip(top, est)]
    return spark.createDataFrame(rows, "word string, exact_count long, cms_est long")


def _q_minhash_doc_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs over the documents table.
    Oracle-hash-checked since round 4: the sequential numpy replica
    (oracle_ops.minhash_doc_candidates) recomputes the full
    shingle → weighted-MinHash → band-bucket → vote chain independently
    and the driver compares the pair sets (_minhash_doc_pairs_oracle_sql)."""
    from mhap_spark.ops.dedup import minhash_lsh_doc_pairs

    return minhash_lsh_doc_pairs(_t(spark, sf_dir, "documents"))


def _q_minhash_dedup_keep(spark, sf_dir):
    """Keep/drop manifest — the end product of a training-data dedup pass
    (MinHash pairs → connected components → canonical min-id
    representative; ops/dedup.minhash_dedup_keep).  Hash-checked: the
    oracle runs union-find over the SAME sequential pair replica that
    backs minhash_doc_pairs, so the check covers the full
    pairs → clusters → decision chain end to end."""
    from mhap_spark.ops.dedup import minhash_dedup_keep

    cfg = DOC_CFG.with_overrides(no_broadcast_hints=hints_default_for_rows(500))
    out = minhash_dedup_keep(_t(spark, sf_dir, "documents"), cfg=cfg)
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"), "cluster_id", "keep"
    )


def _q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs (GRAFT-HASH-1 k-gram bit votes) summarized as
    a Hamming histogram.  Oracle-hash-checked since round 4 via a
    brute-force sequential replica (_simhash_oracle_sql — blocking is
    exactly-recall-1.0 by pigeonhole, so brute force IS the semantics)."""
    from mhap_spark.ops.dedup import simhash_near_dup_pairs

    # the driver corpus is vocabulary-homogeneous, so raw pair lists are huge;
    # summarize as a hamming histogram (operator demo with bounded output)
    pairs = simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=2)
    return pairs.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


def _q_substring_dup_docs(spark, sf_dir):
    """Suffix-array-substring dedup recast (north rule third family):
    winnowed k-gram fingerprints — docs sharing an exact ≥ 47-char run
    (window+k−1) share a fingerprint.  Oracle-hash-checked since round 3:
    _winnow_oracle_sql replicates GRAFT-HASH-1 winnowing in pure DuckDB
    SQL; the winnowing guarantee is also pinned by
    tests/test_ops.py::test_substring_dup_pairs_winnowing."""
    from mhap_spark.ops.dedup import substring_dup_pairs

    return substring_dup_pairs(
        _t(spark, sf_dir, "documents"), k=16, window=32, min_shared=1
    )


def _q_lang_id(spark, sf_dir):
    from mhap_spark.ops.textstats import lang_id

    out = lang_id(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "lang_pred", F.round("lang_score", 6).alias("lang_score")
    )


def _q_fingerprint(spark, sf_dir):
    from mhap_spark.ops.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _q_bloom_gram_words(spark, sf_dir):
    """Distributed Bloom filter (mhap/sketch/FrequencyCounts.java:137,272-278
    noise-membership analog) over the GRAFT-HASH-1 char 8-gram hashes of
    documents.text: the merged bitmap as non-zero 64-bit words.  Fully
    deterministic given the pinned hash family, so the DuckDB oracle
    replicates it bit-for-bit (same fmix64 salts, same word layout)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from mhap_spark.hashing import caption_kgram_hashes_batch
    from mhap_spark.ops.sketches import bloom_words

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grams = caption_kgram_hashes_batch(pdf["text"].tolist(), 8)
            flat = (
                np.concatenate(grams) if grams else np.empty(0, dtype=np.uint64)
            )
            yield pd.DataFrame({"h": flat.view(np.int64)})

    hashes = (
        _t(spark, sf_dir, "documents").select("text").mapInPandas(gen, "h long")
    )
    return bloom_words(hashes, "h", m_bits=1 << 16, k_hashes=4, seed=42)


def _q_lsh_ann(spark, sf_dir):
    """Rows-only: bucket membership depends on seeded Gaussian hyperplanes
    (float matmul signs) — not SQL-replicable; recall is pytest-measured
    against the exact brute-force baseline (`cosine_topk` IS oracle-checked)."""
    from mhap_spark.ops.similarity import lsh_bucketed_neighbors

    return lsh_bucketed_neighbors(
        _t(spark, sf_dir, "embeddings"), n_bits=12, n_tables=4, min_cos=0.35, dim=64
    )


def _q_ivf_ann(spark, sf_dir):
    """IVF coarse-quantizer ANN (second scale path next to LSH): spherical
    k-means cells, multi-probe assignment, exact-cosine rescore.  Rows-only:
    cell assignments depend on iterative float k-means — not SQL-replicable;
    recall vs the exact baseline is pytest-measured."""
    from mhap_spark.ops.similarity import ivf_neighbors

    return ivf_neighbors(
        _t(spark, sf_dir, "embeddings"), n_centroids=16, n_probe=3, min_cos=0.35
    )


def _synth_df(spark, n=600):
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

    return spark.createDataFrame(
        corpus_to_rows(generate_corpus(n, seed=42)), INPUT_SCHEMA_DDL
    ).repartition(8)


def _q_mhap_signatures(spark, sf_dir):
    """Per-row VALUE digests of the core sketch kernel: xor-folds of the
    bottom-k sketch and the band hashes.  Hash-checked (round-4): the
    oracle side is a VALUES literal computed by the independent single-node
    numpy oracle (oracle.py) over the identical seeded corpus — the
    engine's Arrow kernel is compared value-for-value by the driver gate,
    not just row-counted.  At this config (one slot per band, all bands)
    each band hash is an injective map of its slot value, so a change to
    ANY slot of ANY row flips its ``bands_xor`` digest."""
    from mhap_spark.freq import FreqTable
    from mhap_spark.minhash import compute_signatures

    cfg = MhapConfig(num_hashes=128)
    df = _synth_df(spark)
    freq = FreqTable.compute(df, cfg)
    sigs = compute_signatures(df, cfg, freq)
    xf = lambda c: F.aggregate(c, F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x))
    return sigs.select(
        "image_id",
        "n_shingles",
        xf("bottomk").alias("bottomk_xor"),
        xf("bands").alias("bands_xor"),
    )


def _mhap_signatures_oracle_sql(n: int = 600) -> str:
    """DuckDB oracle for mhap_signatures: the numpy oracle (oracle.py — the
    sequential reimplementation of mhap/sketch/MinHashSketch.java pinned by
    tests/test_engine_parity) runs over the same seed-42 corpus and its
    digests are emitted as a VALUES literal.  The 512-step-per-slot xorshift
    stream is not expressible as tractable pure SQL (a recursive CTE needs
    ~16k sequential iterations; the GF(2) closed form needs 64 masks per
    slot), so DuckDB serves as the comparator over independently-computed
    values rather than the computer — the engine⇄oracle independence is the
    same."""
    from mhap_spark import oracle
    from mhap_spark.minhash import band_hashes
    from mhap_spark.synth import generate_corpus

    cfg = MhapConfig(num_hashes=128)
    corpus = generate_corpus(n, seed=42)
    shingle_sets = [
        oracle.row_shingles(c, int(p), cfg)
        for c, p in zip(corpus["caption"], corpus["phash"])
    ]
    freq = oracle.FreqFilter(oracle.df_ratio_table(shingle_sets), cfg)
    import numpy as np

    def xor64(vals) -> int:
        # pure-Python masking: np.uint64(negative) is a DeprecationWarning on
        # numpy 1.26 and an OverflowError on numpy >= 2.0
        acc = 0
        for v in vals:
            acc ^= int(v) & 0xFFFFFFFFFFFFFFFF
        # fold to signed 64-bit
        return acc - (1 << 64) if acc >= (1 << 63) else acc

    rows = []
    for img, sh in zip(corpus["image_id"], shingle_sets):
        sig = oracle.weighted_minhash(sh, cfg, freq)
        # banding is a deterministic per-row transform of the
        # (independently computed) oracle sig; reusing the numpy helper
        # here checks the engine's slots and Spark's banding on every row
        bands = band_hashes(
            np.asarray(sig[: cfg.band_count() * cfg.rows_per_band], dtype=np.int32)
            .reshape(1, -1),
            cfg.rows_per_band,
        )[0]
        bottomk = oracle.bottom_k(sh, cfg.ordered_sketch_size)
        rows.append((img, len(sh), xor64(bottomk.tolist()), xor64(bands.tolist())))
    values = ",\n".join(f"('{r[0]}', {r[1]}, {r[2]}, {r[3]})" for r in rows)
    return (
        "SELECT image_id, n_shingles, bottomk_xor, bands_xor FROM (VALUES\n"
        + values
        + "\n) AS t(image_id, n_shingles, bottomk_xor, bands_xor)"
    )


def _q_mhap_cluster_sizes(spark, sf_dir):
    """Full pipeline on the seeded synthetic corpus → (cluster_id, size).
    Hash-checked (round-4): the oracle side is a VALUES literal computed by
    the independent numpy pipeline (oracle.run_pipeline — its own shingles,
    weights, sketches, inverted index, verify gates, and union-find) over
    the identical corpus, so the driver gate compares the engine's
    END-TO-END output value-for-value."""
    from mhap_spark.pipeline import run_pipeline

    out = run_pipeline(
        spark,
        _synth_df(spark),
        MhapConfig(num_hashes=128, no_broadcast_hints=hints_default_for_rows(600)),
    )
    return (
        out["clusters"]
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )


def _oracle_pipeline_clusters(n: int = 600) -> tuple[dict, dict[str, str]]:
    """Memoized (corpus, oracle clusters) at the contract config — the
    sequential pipeline feeds BOTH mhap_cluster_sizes and roc_stats_synth
    oracles, and oracle_sql() builds every oracle in one call."""
    global _ORACLE_PIPE_CACHE
    try:
        if _ORACLE_PIPE_CACHE[0] == n:
            return _ORACLE_PIPE_CACHE[1]
    except NameError:
        pass
    from mhap_spark import oracle
    from mhap_spark.synth import generate_corpus

    corpus = generate_corpus(n, seed=42)
    _, clusters = oracle.run_pipeline(corpus, MhapConfig(num_hashes=128))
    _ORACLE_PIPE_CACHE = (n, (corpus, clusters))
    return corpus, clusters


def _mhap_cluster_sizes_oracle_sql(n: int = 600) -> str:
    """DuckDB oracle for mhap_cluster_sizes: the numpy oracle pipeline
    (sequential, Spark-free — tests/test_engine_parity pins its semantics
    against the reference formulas) runs end-to-end over the same seed-42
    corpus; its cluster sizes are emitted as a VALUES literal.  See
    _mhap_signatures_oracle_sql for why DuckDB is the comparator rather
    than the computer here."""
    from collections import Counter

    _, clusters = _oracle_pipeline_clusters(n)
    sizes = Counter(clusters.values())
    values = ",\n".join(f"('{cid}', {sz})" for cid, sz in sorted(sizes.items()))
    return (
        "SELECT cluster_id, cluster_size FROM (VALUES\n"
        + values
        + "\n) AS t(cluster_id, cluster_size)"
    )


_ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


import functools


@functools.lru_cache(maxsize=4)
def _oracle_docs(sf_dir: str = None) -> tuple[list[str], list[str]]:
    """(doc_ids_as_strings, texts) of the documents table the driver's
    oracle gate runs against (sf0.01 per the driver contract; override via
    SPARK_GRAFT_ORACLE_SF_DIR when checking another scale locally).
    Memoized — oracle_sql() builds six oracles over this table in one call,
    and callers never mutate the returned lists."""
    import duckdb

    rows = duckdb.sql(
        "SELECT CAST(doc_id AS VARCHAR), text FROM "
        f"read_parquet('{sf_dir or _ORACLE_SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    return [r[0] for r in rows], [r[1] for r in rows]


def _oracle_embeddings(sf_dir: str = None, with_labels: bool = False):
    """(vec_ids int64 array, vectors float64 matrix — the element-wise
    array<float>→array<double> cast the engine applies[, labels list]).
    The ONE place that mirrors the engine's float cast — every vector
    oracle loads through here."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        "SELECT vec_id, embedding, label FROM "
        f"read_parquet('{sf_dir or _ORACLE_SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array(
        [np.asarray(r[1], dtype=np.float32).astype(np.float64) for r in rows]
    )
    if with_labels:
        return ids, X, [r[2] for r in rows]
    return ids, X


def _sql_str(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _values_sql(rows: list[tuple], cols: list[str], types: str) -> str:
    """VALUES-literal SELECT with explicit per-column formatting.

    ``types``: one char per column — s=string, i=int, f=float (full repr —
    DuckDB parses the shortest decimal form back to the identical double),
    b=bool.  None renders as NULL."""

    def fmt(v, t):
        if v is None:
            return "NULL"
        if t == "s":
            return _sql_str(v)
        if t == "b":
            return "TRUE" if v else "FALSE"
        if t == "f":
            # an explicit DOUBLE cast — a bare literal parses as DECIMAL,
            # which would dodge the driver's float canonicalization
            return f"CAST({repr(float(v))} AS DOUBLE)"
        return str(int(v))

    body = ",\n".join(
        "(" + ", ".join(fmt(v, t) for v, t in zip(r, types)) + ")" for r in rows
    )
    names = ", ".join(cols)
    return f"SELECT {names} FROM (VALUES\n{body}\n) AS t({names})"


@functools.lru_cache(maxsize=2)
def _doc_pair_replica() -> tuple[tuple, tuple]:
    """(doc_ids, candidate pair rows) from the sequential replica at the
    contract config — the most expensive oracle computation (full
    shingle → weighted-MinHash → band → vote chain), shared by
    minhash_doc_pairs and minhash_dedup_keep instead of run twice."""
    from mhap_spark import oracle_ops

    ids, texts = _oracle_docs()
    return tuple(ids), tuple(oracle_ops.minhash_doc_candidates(ids, texts, DOC_CFG))


def _minhash_doc_pairs_oracle_sql() -> str:
    """DuckDB oracle for minhash_doc_pairs: the sequential replica
    (oracle_ops.minhash_doc_candidates — shingle → weighted MinHash →
    band buckets → all-pairs votes, mhap/impl/MinHashSearch.java:85-204
    semantics) runs over the same sf0.01 documents table; DuckDB compares
    the independently-computed pair set (see _mhap_signatures_oracle_sql
    for the VALUES-literal rationale)."""
    _, rows = _doc_pair_replica()
    return _values_sql(list(rows), ["src_doc", "dst_doc", "votes"], "ssi")


def _minhash_dedup_keep_oracle_sql() -> str:
    """DuckDB oracle for minhash_dedup_keep: union-find with min-id roots
    (oracle_ops.dedup_keep_rows) over the sequential candidate-pair
    replica — an independent end-to-end recomputation of the keep
    manifest, emitted as a VALUES literal."""
    from mhap_spark import oracle_ops

    ids, pairs = _doc_pair_replica()
    rows = oracle_ops.dedup_keep_rows(list(ids), list(pairs))
    return _values_sql(rows, ["doc_id", "cluster_id", "keep"], "ssb")


def _embedding_dedup_keep_oracle_sql() -> str:
    """DuckDB oracle for embedding_dedup_keep: blocked sequential-fold
    cosine pairs + union-find (oracle_ops.embedding_keep_rows) over the
    same embeddings table, emitted as a VALUES literal."""
    from mhap_spark import oracle_ops

    ids, X, labels = _oracle_embeddings(with_labels=True)
    out = oracle_ops.embedding_keep_rows(ids, X, labels, min_cos=0.35)
    return _values_sql(out, ["vec_id", "cluster_id", "keep"], "iib")


def _simhash_oracle_sql() -> str:
    """DuckDB oracle for simhash_near_dup: brute-force sequential SimHash +
    Hamming histogram (oracle_ops.simhash_hamming_hist) — valid because the
    multi-index blocking is exactly-recall-1.0 by pigeonhole and no chunk
    bucket can exceed the cap at n=500."""
    from mhap_spark import oracle_ops

    _, texts = _oracle_docs()
    rows = oracle_ops.simhash_hamming_hist(texts, k=8, max_hamming=2)
    return _values_sql(rows, ["hamming", "n_pairs"], "ii")


def _approx_distinct_oracle_sql() -> str:
    """DuckDB oracle for approx_distinct: sequential replica of Spark's
    HyperLogLog++ (oracle_ops.hllpp_count_distinct — algorithm from the
    public HLL++ paper as engineered in Spark's OSS catalyst helper; bias
    knots in hll_constants.py), pinned exact-match vs
    ``F.approx_count_distinct`` across 15 cardinalities by
    tests/test_oracle_ops.py.  Closes the last rows-only contract query."""
    import duckdb

    from mhap_spark import oracle_ops

    rows = duckdb.sql(
        "SELECT l_partkey, l_suppkey FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/lineitem.parquet')"
    ).fetchall()
    parts = [r[0] for r in rows]
    supps = [r[1] for r in rows]
    row = (
        oracle_ops.hllpp_count_distinct(parts),
        oracle_ops.hllpp_count_distinct(supps),
        len(set(parts)),
    )
    return _values_sql(
        [row], ["approx_parts", "approx_supps", "exact_parts"], "iii"
    )


def _cms_oracle_sql() -> str:
    """DuckDB oracle for cms_word_freq: sequential CountMin replica over
    Spark-compatible xxhash64 word keys (oracle_ops.cms_word_rows;
    xxhash64 parity pinned by tests/test_oracle_ops.py)."""
    from mhap_spark import oracle_ops

    _, texts = _oracle_docs()
    # replicate the ENGINE tokenizer exactly: Java regex \s is ASCII-only
    # ([ \t\n\x0b\f\r]) and F.trim strips ASCII space only — Python's
    # str.split()/strip() would also split on Unicode spaces (NBSP etc.)
    # and diverge the hash on non-ASCII text
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    words = []
    for t in texts:
        words.extend(ws.sub(" ", (t or "").lower()).strip(" ").split(" "))
    rows = oracle_ops.cms_word_rows(words, depth=4, width=4096, topn=20)
    return _values_sql(rows, ["word", "exact_count", "cms_est"], "sii")


def _roc_stats_oracle_sql(n: int = 600) -> str:
    """DuckDB oracle for roc_stats_synth: the numpy oracle pipeline's
    clusters (the same independent chain behind mhap_cluster_sizes) fed
    through a sequential pair-confusion count
    (oracle_ops.cluster_confusion_row ≡ ops/rocstats.pair_confusion with
    the caps provably inactive at n=600)."""
    from mhap_spark import oracle_ops

    corpus, clusters = _oracle_pipeline_clusters(n)
    truth = {
        img: int(c) for img, c in zip(corpus["image_id"], corpus["true_cluster"])
    }
    row = oracle_ops.cluster_confusion_row(clusters, truth)
    return _values_sql(
        [row],
        ["tp", "fp", "fn", "tn", "sensitivity", "specificity", "ppv",
         "found_outside_universe"],
        "iiiifffi",
    )


def _lsh_ann_oracle_sql() -> str:
    """DuckDB oracle for lsh_ann_neighbors: sequential hyperplane-LSH
    replica (oracle_ops.lsh_ann_rows) with the JVM's left-to-right cosine
    fold and HALF_UP rounding."""
    from mhap_spark import oracle_ops

    ids, X = _oracle_embeddings()
    rows = oracle_ops.lsh_ann_rows(ids, X, n_bits=12, n_tables=4, min_cos=0.35)
    return _values_sql(rows, ["src", "dst", "cos_sim"], "iif")


def _ivf_ann_oracle_sql() -> str:
    """DuckDB oracle for ivf_ann_neighbors: sequential IVF replica
    (oracle_ops.ivf_ann_rows — xxhash64-rank training sample, spherical
    k-means, multi-probe cells, exact rescore)."""
    from mhap_spark import oracle_ops

    ids, X = _oracle_embeddings()
    rows = oracle_ops.ivf_ann_rows(ids, X, n_centroids=16, n_probe=3, min_cos=0.35)
    return _values_sql(rows, ["src", "dst", "cos_sim"], "iif")


def _image_stats_oracle_sql(n: int = 600) -> str:
    """DuckDB oracle for image_stats: sequential per-row decode over the
    same seed-42 corpus (oracle_ops.image_stats_rows; the pure-numpy codecs
    are the shared leaf primitive, pinned by their own unit tests — the
    check is that Spark's Arrow-batched execution decodes every row to the
    same pixels/stats)."""
    from mhap_spark import oracle_ops
    from mhap_spark.synth import generate_corpus

    rows = oracle_ops.image_stats_rows(generate_corpus(n, seed=42))
    return _values_sql(
        rows,
        ["image_id", "decode_ok", "decode_error", "dec_w", "dec_h",
         "mean_luma", "phash_recomputed", "phash_matches"],
        "sbsiifib",
    )


def _multimodal_oracle_sql(n: int = 200) -> str:
    """DuckDB oracle for multimodal_transforms: sequential per-row
    resize/frame/audio replica (oracle_ops.multimodal_summary_row) over the
    same seed-42 corpus; the query's aggregates are integer counts and a
    per-row-quantized rms sum, so no cross-partition float order exists."""
    from mhap_spark import oracle_ops
    from mhap_spark.synth import generate_corpus

    row = oracle_ops.multimodal_summary_row(generate_corpus(n, seed=42))
    return _values_sql(
        [row], ["n_resized", "n_resize_ok", "n_frames", "rms_u_sum"], "iiii"
    )


def _q_image_stats(spark, sf_dir):
    """Decodes the synthetic corpus's binary image column with the
    pure-numpy codecs and re-verifies the stored phash (the engine-side
    half of the per-row invariant).  Oracle-hash-checked since round 4 via
    a sequential-decode VALUES replica (_image_stats_oracle_sql)."""
    from mhap_spark.ops.multimodal import image_stats

    return image_stats(_synth_df(spark))


def _q_multimodal_transforms(spark, sf_dir):
    """Resize + frame-sample + audio-PCM plumbing over the synthetic image
    corpus, summarized to one row (brief: multimodal ops with real Spark
    plumbing; frame_sample demuxes real RIFF-AVI containers since round 4 —
    stills here count as 1-frame videos)."""
    from mhap_spark.ops.multimodal import audio_pcm_stats, frame_sample, resize_images

    df = _synth_df(spark, 200)
    resized = resize_images(df, out_w=16, out_h=16)
    frames = frame_sample(df, n_frames=2)
    audio = audio_pcm_stats(df)  # image bytes as PCM16 — exercises the kernel
    # rms is quantized PER ROW (deterministic Arrow-kernel output) before the
    # integer sum, so the aggregate is independent of partitioning/order —
    # a float avg would expose cross-partition summation order (round 4)
    return (
        resized.agg(
            F.count(F.lit(1)).alias("n_resized"),
            F.sum(F.when(F.col("resize_ok"), 1).otherwise(0)).alias("n_resize_ok"),
        )
        .crossJoin(frames.agg(F.count(F.lit(1)).alias("n_frames")))
        .crossJoin(
            audio.agg(
                F.sum(F.round(F.col("rms") * 1e6).cast("long")).alias("rms_u_sum")
            )
        )
    )


def _q_roc_stats_synth(spark, sf_dir):
    """EstimateROC analog on the synthetic corpus: cluster-induced pair
    confusion vs planted truth (sensitivity is the BASELINE.json recall
    metric).  Oracle-hash-checked since round 4: the numpy oracle pipeline's
    clusters feed a sequential confusion count (_roc_stats_oracle_sql), so
    the whole sketch→cluster→eval chain is driver-checked end to end."""
    from mhap_spark.ops.rocstats import cluster_confusion
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.synth import generate_corpus

    n = 600
    corpus = generate_corpus(n, seed=42)
    out = run_pipeline(
        spark,
        _synth_df(spark, n),
        MhapConfig(num_hashes=128, no_broadcast_hints=hints_default_for_rows(n)),
    )
    truth = spark.createDataFrame(
        list(zip(corpus["image_id"], [int(c) for c in corpus["true_cluster"]])),
        "image_id string, true_cluster long",
    )
    return cluster_confusion(out["clusters"], truth)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "revenue_by_nation": _q_revenue_by_nation,
        "topk_orders_per_customer": _q_topk_orders_per_customer,
        "supplier_vote_pairs": _q_supplier_vote_pairs,
        "nations_with_both": _q_nations_with_both,
        "word_df_ratio": _q_word_df_ratio,
        "event_stats": _q_event_stats,
        "event_type_entropy": _q_event_type_entropy,
        "exact_dedup_docs": _q_exact_dedup_docs,
        "word_jaccard_pairs": _q_word_jaccard_pairs,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality_score,
        "cosine_topk": _q_cosine_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "events_hourly": _q_events_hourly,
        "range_join_ship_30d": _q_range_join,
        "median_value_by_type": _q_median_value_by_type,
        "pair_identity_scores": _q_pair_identity_scores,
        "quantity_price_corr": _q_quantity_price_corr,
        "histogram_stats": _q_histogram_stats,
        "roc_stats_synth": _q_roc_stats_synth,
        "lang_id": _q_lang_id,
        # rows-only (sketch/hash-dependent or synthetic-input)
        "approx_distinct": _q_approx_distinct,
        "cms_word_freq": _q_cms_word_freq,
        "minhash_doc_pairs": _q_minhash_doc_pairs,
        "minhash_dedup_keep": _q_minhash_dedup_keep,
        "embedding_dedup_keep": _q_embedding_dedup_keep,
        "simhash_near_dup": _q_simhash_near_dup,
        "substring_dup_docs": _q_substring_dup_docs,
        "doc_fingerprint": _q_fingerprint,
        "bloom_gram_words": _q_bloom_gram_words,
        "lsh_ann_neighbors": _q_lsh_ann,
        "ivf_ann_neighbors": _q_ivf_ann,
        "mhap_signatures": _q_mhap_signatures,
        "mhap_cluster_sizes": _q_mhap_cluster_sizes,
        "image_stats": _q_image_stats,
        "multimodal_transforms": _q_multimodal_transforms,
    }


# DuckDB replica of dedup.normalized_text = trim(regexp_replace(lower(x),
# '\s+', ' ')): collapse FIRST, trim AFTER, same as the engine — trimming
# first would leave a leading/trailing tab or newline to collapse into an
# untrimmed edge space the engine never produces (post-review fix; latent
# on the current corpus, which has no edge tabs/newlines).  The explicit
# class is Java-regex \s ([ \t\n\x0b\f\r]) — RE2's \s lacks \x0b.
_NORM = r"trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))"

# DuckDB replica of hashing.canonicalize_caption (NFC + casefold + collapse of
# Python str.split() whitespace).  The RE2 class is exactly the character set
# str.split() treats as whitespace (\p{Z} = Zs+Zl+Zp, plus the ASCII/C1
# controls and NEL \x85); trim runs AFTER the collapse so non-ASCII edge
# whitespace (NBSP etc.) strips too.  lower() vs casefold(): identical except
# on one-to-many foldings (ß→ss, ligatures, dotted-I) — the synth documents
# corpus is pure ASCII where the two agree; parity incl. the non-ASCII
# whitespace cases is pinned by tests/test_oracle.py (round-3 ADVICE fix).
DUCKDB_CANON_EXPR = (
    r"trim(regexp_replace(lower(nfc_normalize(text)),"
    r" '[\t\n\x0b\f\r\x1c-\x1f\x85\p{Z}]+', ' ', 'g'))"
)


def _mulmod_sql(a: str, b: str) -> str:
    """a·b mod 2⁶⁴ in DuckDB: integer arithmetic rejects wraparound as
    overflow, so compute in HUGEINT limbs — a·b mod 2⁶⁴ =
    (a_lo·b + ((a_hi·b) mod 2³²)·2³²) mod 2⁶⁴ with a_lo/a_hi the 32-bit
    halves of a (every partial fits 128 bits)."""
    return (
        f"CAST((({a})::HUGEINT % 4294967296 * {b} + "
        f"(({a})::HUGEINT // 4294967296 * {b}) % 4294967296 * 4294967296) "
        f"% 18446744073709551616 AS UBIGINT)"
    )


def _fmix_sql(x: str, shr1: bool) -> str:
    """murmur3 fmix64 on a UBIGINT SQL expression (optionally >> 1 — the
    GRAFT-HASH-1 63-bit form); constants read from mhap_spark.hashing so
    the contract pins the formula, not a copy of it."""
    from mhap_spark import hashing as H

    s1 = f"xor({x}, ({x}) >> 33)"
    m1 = _mulmod_sql(s1, f"{int(H._M1)}::UBIGINT")
    s2 = f"xor({m1}, ({m1}) >> 33)"
    m2 = _mulmod_sql(s2, f"{int(H._M2)}::UBIGINT")
    s3 = f"xor({m2}, ({m2}) >> 33)"
    return f"(({s3}) >> 1)" if shr1 else f"({s3})"


def _gram_hash_ctes(k: int) -> str:
    """CTE chain ``canon → pos_tbl → f0..fk → grams`` computing GRAFT-HASH-1
    k-gram hashes of documents.text per (doc_id, pos) — the exact semantics
    of hashing.caption_kgram_hashes (NFC+casefold+ws-collapse canon, FNV-1a
    over code points, fmix64 >> 1).  The k-step FNV fold is unrolled into k
    chained CTEs: vectorized columnar steps are ~170× faster than a
    per-window list_reduce lambda (2 s vs 337 s at sf0.01)."""
    from mhap_spark import hashing as H

    fnv_off, fnv_prime = int(H._FNV_OFFSET), int(H._FNV_PRIME)
    folds = ",\n".join(
        f"f{j} AS (SELECT doc_id, pos, n, "
        + ((", ".join(f"c{i}" for i in range(j + 1, k + 1)) + ", ") if j < k else "")
        + _mulmod_sql(f"xor(h, c{j})", f"{fnv_prime}::UBIGINT")
        + f" AS h FROM f{j - 1})"
        for j in range(1, k + 1)
    )
    char_cols = ", ".join(
        f"unicode(s[pos+{i - 1}])::UBIGINT AS c{i}" for i in range(1, k + 1)
    )
    all_c = ", ".join(f"c{i}" for i in range(1, k + 1))
    return f"""
        canon AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, {DUCKDB_CANON_EXPR} AS s
          FROM documents
        ),
        pos_tbl AS (
          SELECT doc_id, length(s) - {k} + 1 AS n, pos, {char_cols}
          FROM canon, unnest(range(1, length(s) - {k} + 2)) AS t(pos)
          WHERE length(s) >= {k}
        ),
        f0 AS (SELECT doc_id, pos, n, {all_c}, {fnv_off}::UBIGINT AS h FROM pos_tbl),
        {folds},
        grams AS (SELECT doc_id, pos, n, {_fmix_sql('h', shr1=True)} AS h FROM f{k})"""


def _winnow_oracle_sql(k: int = 16, window: int = 32, cap: int = 512,
                       min_shared: int = 1) -> str:
    """DuckDB replica of ops.dedup.substring_dup_pairs — winnowed GRAFT-HASH-1
    k-gram fingerprints in PURE SQL, so the driver's oracle gate can
    hash-check the winnowing family (round-2 VERDICT task 10).

    Winnowing is a sliding window-min over the _gram_hash_ctes hash stream;
    doc ids are CAST to VARCHAR so pair orientation matches the engine's
    string ids (the Spark kernel stringifies ids: '10' < '9')."""
    return f"""
        WITH {_gram_hash_ctes(k)},
        winmin AS (
          SELECT doc_id, pos, n,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp
          FROM grams
        ),
        fps AS (
          SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp
          FROM winmin WHERE pos <= greatest(1, n - {window} + 1)
        ),
        ok AS (
          SELECT doc_id, fp FROM fps
          QUALIFY count(*) OVER (PARTITION BY fp) BETWEEN 2 AND {cap}
        )
        SELECT l.doc_id AS src, r.doc_id AS dst, count(*) AS n_shared_fp
        FROM ok l JOIN ok r ON l.fp = r.fp AND l.doc_id < r.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
    """


def _fingerprint_oracle_sql(k: int = 8) -> str:
    """DuckDB replica of ops.textstats.fingerprint: per-document xor of
    fmix64 over the GRAFT-HASH-1 k-gram hash stream, signed-int64 view.
    Shares _gram_hash_ctes with the winnowing oracle."""
    fpu = "bit_xor(h2)"
    signed = (
        f"CAST(({fpu})::HUGEINT - CASE WHEN {fpu} >= 9223372036854775808::UBIGINT "
        f"THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
    )
    return f"""
        WITH {_gram_hash_ctes(k)},
        agg AS (
          SELECT doc_id, count(*)::BIGINT AS n_grams, {signed} AS fp
          FROM (SELECT doc_id, {_fmix_sql('h', shr1=False)} AS h2 FROM grams)
          GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(a.fp, 0) AS fingerprint,
               coalesce(a.n_grams, 0) AS n_grams
        FROM documents d LEFT JOIN agg a ON CAST(d.doc_id AS VARCHAR) = a.doc_id
    """


def _bloom_oracle_sql(
    k: int = 8, m_bits: int = 1 << 16, k_hashes: int = 4, seed: int = 42
) -> str:
    """DuckDB replica of ops.sketches.bloom_words over the GRAFT-HASH-1
    char k-gram hash stream: bit position j = fmix64(h ^ salt_j) % m_bits
    with salt_j = seed ^ (GOLDEN·(2j+1) mod 2⁶⁴); words = bit_or of set
    bits grouped by p//64, signed-int64 view.  Shares _gram_hash_ctes with
    the winnowing/fingerprint oracles; salts computed from the SAME
    constant the engine uses."""
    from mhap_spark.ops.sketches import _GOLDEN

    salts = [
        seed ^ ((int(_GOLDEN) * (2 * j + 1)) % (1 << 64)) for j in range(k_hashes)
    ]
    pos_sel = "\nUNION ALL\n".join(
        f"SELECT ({_fmix_sql(f'xor(h, {s}::UBIGINT)', shr1=False)}) % {m_bits} AS p "
        "FROM grams"
        for s in salts
    )
    bitsu = "bit_or(CAST(1 AS UBIGINT) << CAST(p % 64 AS INTEGER))"
    signed = (
        f"CAST(({bitsu})::HUGEINT - CASE WHEN {bitsu} >= 9223372036854775808::UBIGINT "
        f"THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
    )
    return f"""
        WITH {_gram_hash_ctes(k)},
        pos AS ({pos_sel})
        SELECT CAST(p // 64 AS BIGINT) AS word_idx, {signed} AS bits
        FROM pos GROUP BY 1
    """


def oracle_sql(names=None) -> dict[str, str]:
    """DuckDB oracle SQL per contract query.  The driver calls this with no
    arguments and gets every oracle; ``names`` (an iterable of query names)
    restricts which SEQUENTIAL-REPLICA oracles are actually computed —
    entries whose value below is a callable are built lazily, so checking
    one query does not pay for the full numpy pipeline, image decode, and
    MinHash replica chain (tools/check_contract.py passes its filter)."""
    # SQL is generated against the SAME constants the Spark operators use, so
    # the parity contract pins the formula, not a copy of it
    from mhap_spark.ops.textstats import _LANG_PROFILES, _STOPWORDS

    stoplist = ", ".join(f"'{w}'" for w in _STOPWORDS)
    punct_class = r"[^!-/:-@\[-`{-~]"
    tri_count = lambda tri: (
        f"(length(lt) - length(replace(lt, '{tri}', ''))) / {len(tri)}"
    )
    lang_scores = {
        lang: " + ".join(tri_count(t) for t in tris)
        for lang, tris in _LANG_PROFILES.items()
    }
    entries = {
        "quality_score": f"""
            -- null/empty text scores 0 outright (engine's `empty` guard,
            -- mirrored: no 0/0-NULL ratios)
            WITH t AS (
              SELECT doc_id, text, length(text) AS n,
                     (text IS NULL OR length(text) = 0) AS empty,
                     list_distinct(string_split({_NORM}, ' ')) AS dts
              FROM documents),
            s AS (
              SELECT doc_id, empty,
                     CASE WHEN empty THEN 0.0 ELSE
                       len(list_intersect(dts, [{stoplist}]))::DOUBLE
                         / {float(len(_STOPWORDS))} END AS stop_ratio,
                     CASE WHEN empty THEN 0.0 ELSE
                       length(regexp_replace(text, '{punct_class}', '', 'g'))::DOUBLE
                         / n END AS punct_ratio,
                     least(coalesce(n, 0) / 200.0, 1.0) AS len_score
              FROM t)
            SELECT doc_id,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(CASE WHEN empty THEN 0.0 ELSE
                         greatest(0.0, least(1.0,
                           0.4*len_score + 0.4*stop_ratio
                           + 0.2*(1.0 - 4.0*punct_ratio))) END, 6) AS quality
            FROM s
        """,
        "lang_id": f"""
            WITH t AS (
              SELECT doc_id, coalesce(lower(text), '') AS lt,
                     greatest(length(text), 1) AS n
              FROM documents),
            s AS (
              SELECT doc_id,
                     ({lang_scores['en']})::DOUBLE / n AS s_en,
                     ({lang_scores['de']})::DOUBLE / n AS s_de,
                     ({lang_scores['fr']})::DOUBLE / n AS s_fr
              FROM t)
            SELECT doc_id,
                   CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS lang_pred,
                   round(greatest(s_en, s_de, s_fr), 6) AS lang_score
            FROM s
        """,
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
                   sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
                   sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS sum_disc_price,
                   round(sum(CAST(round(l_quantity*100) AS BIGINT))/100.0/count(*), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders) WHERE rk <= 3
        """,
        "supplier_vote_pairs": """
            WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
            SELECT l.l_suppkey AS src_supp, r.l_suppkey AS dst_supp,
                   count(*) AS votes
            FROM sp l JOIN sp r
              ON l.l_partkey = r.l_partkey AND l.l_suppkey < r.l_suppkey
            GROUP BY 1, 2 HAVING count(*) >= 40
        """,
        "nations_with_both": """
            SELECT nationkey FROM (
              SELECT DISTINCT c_nationkey AS nationkey FROM customer
              INTERSECT
              SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        """,
        "word_df_ratio": f"""
            WITH w AS (
              SELECT unnest(list_distinct(string_split({_NORM}, ' '))) AS word
              FROM documents)
            SELECT word, count(*) AS df_count,
                   round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) AS df_ratio
            FROM w GROUP BY word
            HAVING round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) >= 0.01
        """,
        "event_stats": """
            SELECT event_type, count(*) AS n,
                   round(avg(value), 6) AS avg_value,
                   round(stddev_samp(value), 6) AS sd_value,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM events GROUP BY event_type
        """,
        "event_type_entropy": """
            WITH c AS (SELECT event_type, count(*) AS c FROM events GROUP BY event_type),
                 t AS (SELECT sum(c) AS t FROM c)
            SELECT round(-sum(p * log2(p)), 6) AS entropy_bits
            FROM (SELECT c.c::DOUBLE / t.t AS p FROM c CROSS JOIN t)
        """,
        "exact_dedup_docs": f"""
            SELECT min(doc_id) AS rep_id, count(*) AS n_dups
            FROM (SELECT doc_id, {_NORM} AS norm_text FROM documents)
            GROUP BY norm_text
        """,
        "word_jaccard_pairs": f"""
            WITH w AS (
              SELECT doc_id AS id, source AS blk, length({_NORM}) AS len,
                     list_distinct(string_split({_NORM}, ' ')) AS ws
              FROM documents)
            SELECT l.id AS src, r.id AS dst,
                   round(len(list_intersect(l.ws, r.ws))::DOUBLE
                         / len(list_distinct(l.ws || r.ws)), 6) AS jaccard
            FROM w l JOIN w r ON l.blk = r.blk AND l.id < r.id
            WHERE abs(l.len - r.len) <= 20
              AND len(list_intersect(l.ws, r.ws))::DOUBLE
                  / len(list_distinct(l.ws || r.ws)) >= 0.3
        """,
        "token_stats": f"""
            -- null/empty normalized text → 0 tokens, NULL ratios (engine's
            -- empty-array + try_divide guards, mirrored)
            WITH t AS (SELECT doc_id,
                              CASE WHEN {_NORM} IS NULL OR {_NORM} = ''
                                   THEN []::VARCHAR[]
                                   ELSE string_split({_NORM}, ' ') END AS toks,
                              coalesce(length(text), 0) AS n_chars_seen
                       FROM documents)
            SELECT doc_id, len(toks) AS n_tokens, n_chars_seen,
                   round(len(list_distinct(toks))::DOUBLE / nullif(len(toks), 0), 6) AS distinct_ratio,
                   round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
                         / nullif(len(toks), 0), 6) AS avg_token_len
            FROM t
        """,
        "cosine_topk": """
            WITH b AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec,
                     sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS nrm
              FROM embeddings
              WHERE sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) > 0),
            q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm FROM b WHERE vec_id < 5),
            s AS (
              SELECT q.query_id, b.vec_id AS neighbor_id,
                     list_sum(list_transform(list_zip(b.vec, q.qvec),
                              p -> p[1]*p[2])) / (b.nrm * q.qnorm) AS sim
              FROM b CROSS JOIN q WHERE b.vec_id != q.query_id)
            SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, rk AS rank FROM (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id ASC) AS rk
              FROM s) WHERE rk <= 10
        """,
        "embedding_near_dup": """
            WITH b AS (
              SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec,
                     sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) AS nrm
              FROM embeddings
              WHERE sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE)))) > 0)
            SELECT l.vec_id AS src, r.vec_id AS dst,
                   round(list_sum(list_transform(list_zip(l.vec, r.vec),
                             p -> p[1]*p[2])) / (l.nrm * r.nrm), 6) AS cos_sim
            FROM b l JOIN b r ON l.label = r.label AND l.vec_id < r.vec_id
            WHERE list_sum(list_transform(list_zip(l.vec, r.vec),
                      p -> p[1]*p[2])) / (l.nrm * r.nrm) >= 0.35
        """,
        "events_hourly": """
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
                   event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "range_join_ship_30d": """
            SELECT o_orderstatus, count(*) AS n_shipped_30d
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate >= o_orderdate
             AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
            GROUP BY o_orderstatus
        """,
        "median_value_by_type": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS median_value,
                   round(quantile_cont(value, 0.9), 6) AS p90_value
            FROM events GROUP BY event_type
        """,
        "quantity_price_corr": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
                   round(avg(l_discount), 6) AS avg_discount,
                   round(stddev_samp(l_discount), 6) AS sd_discount
            FROM lineitem GROUP BY l_returnflag
        """,
        "histogram_stats": """
            WITH h AS (
              SELECT l_quantity::DOUBLE AS val, count(*)::DOUBLE AS cnt
              FROM lineitem GROUP BY l_quantity),
            t AS (
              SELECT sum(val*cnt) AS mass, sum(cnt) AS total,
                     sum(val*cnt)/sum(cnt) AS mean FROM h),
            c AS (
              SELECT val, cnt,
                     sum(val*cnt) OVER (ORDER BY val ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run_mass
              FROM h)
            SELECT round(t.mean, 6) AS mean,
                   round(sqrt(sum(c.cnt * pow(c.val - t.mean, 2)) / t.total), 6)
                     AS stdev,
                   min(CASE WHEN c.run_mass / t.mass > 0.99 THEN c.val END)
                     AS cut
            FROM c, t
            GROUP BY t.mean, t.mass, t.total
        """,
        "pair_identity_scores": f"""
            WITH w AS (
              SELECT doc_id AS id, source AS blk, length({_NORM}) AS len,
                     list_distinct(string_split({_NORM}, ' ')) AS ws
              FROM documents),
            p AS (
              SELECT l.id AS src, r.id AS dst,
                     len(list_intersect(l.ws, r.ws))::DOUBLE
                       / len(list_distinct(l.ws || r.ws)) AS j
              FROM w l JOIN w r ON l.blk = r.blk AND l.id < r.id
              WHERE abs(l.len - r.len) <= 20
                AND len(list_intersect(l.ws, r.ws))::DOUBLE
                    / len(list_distinct(l.ws || r.ws)) >= 0.3)
            SELECT src, dst, round(j, 6) AS jaccard,
                   round(CASE WHEN j <= 0 THEN 0.0
                              ELSE exp(ln(2*j/(1+j))/16.0) END, 6) AS identity
            FROM p
        """,
        # GRAFT-HASH-1 replicated in pure SQL (HUGEINT-limb mod-2^64
        # multiplies) — parameters MUST mirror the queries() entries.
        # These and the sequential-replica oracles below are CALLABLES,
        # resolved in the filtered comprehension at the end: the expensive
        # replicas (numpy pipeline, doc-pair MinHash chain, 600-image
        # decode, HLL over 60k rows) only run for names actually requested
        "substring_dup_docs": lambda: _winnow_oracle_sql(
            k=16, window=32, cap=512, min_shared=1
        ),
        "doc_fingerprint": lambda: _fingerprint_oracle_sql(k=8),
        "bloom_gram_words": lambda: _bloom_oracle_sql(k=8),
        "mhap_signatures": _mhap_signatures_oracle_sql,
        "mhap_cluster_sizes": _mhap_cluster_sizes_oracle_sql,
        # round-4/5 sequential-replica oracles (oracle_ops.py): every
        # operator is now driver-hash-checked — approx_distinct closed in
        # round 5 via the HLL++ replica
        "approx_distinct": _approx_distinct_oracle_sql,
        "minhash_doc_pairs": _minhash_doc_pairs_oracle_sql,
        "minhash_dedup_keep": _minhash_dedup_keep_oracle_sql,
        "embedding_dedup_keep": _embedding_dedup_keep_oracle_sql,
        "simhash_near_dup": _simhash_oracle_sql,
        "cms_word_freq": _cms_oracle_sql,
        "roc_stats_synth": _roc_stats_oracle_sql,
        "lsh_ann_neighbors": _lsh_ann_oracle_sql,
        "ivf_ann_neighbors": _ivf_ann_oracle_sql,
        "image_stats": _image_stats_oracle_sql,
        "multimodal_transforms": _multimodal_oracle_sql,
    }
    wanted = None if names is None else set(names)
    return {
        k: (v() if callable(v) else v)
        for k, v in entries.items()
        if wanted is None or k in wanted
    }
