"""Corpus document-frequency (tf-idf) table — in-engine analog of the
reference's external k-mer frequency file (mhap/sketch/FrequencyCounts.java:63-229;
the reference outsources this count to Jellyfish, we compute it with one
groupBy, SURVEY.md §2.4).

``FreqTable.compute`` is the one way to build it, for the pipeline,
perfbench, the contract query and the parity tests alike: it persists
``shingle_counts``, derives the cutoff-bounded ratio table from them
with ``df_ratio_table``, collects it and releases the cache.

The retained table (df_ratio ≥ filter_cutoff) is small by construction —
total ratio mass is bounded by avg-shingles-per-doc, so at cutoff c there are
at most (avg_shingles/c) entries, and in practice only genuinely hot shingles
survive at web scale.  It is collected once and broadcast into the sketch
kernel as two sorted numpy arrays (binary-search lookup, zero per-row Python).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from mhap_spark.config import MhapConfig
from mhap_spark.shingles import batch_shingles, distinct_per_row, shingle_input


def sample_rows(pdf: pd.DataFrame, mod: int) -> pd.DataFrame:
    """Deterministic hash-sample: keep rows with id_hash63 % mod == 0.
    Oracle-replicable (same GRAFT-HASH-1 id hash on both sides), unlike
    Spark's Bernoulli sample()."""
    if mod <= 1:
        return pdf
    from mhap_spark.hashing import string_id_hash63

    keep = (string_id_hash63(pdf["image_id"].tolist()) % np.uint64(mod)) == 0
    return pdf[keep]


def distinct_shingle_df(df: DataFrame, cfg: MhapConfig) -> DataFrame:
    """(shingle_hash, is_marker, doc_inc) — one row per (sampled document,
    distinct shingle) plus ONE marker row per Arrow batch carrying the
    sampled-document count, so the denominator of the df ratio rides the same
    scan (no second pass over the input, round-1 VERDICT fix)."""
    schema = StructType(
        [
            StructField("shingle_hash", LongType()),
            StructField("is_marker", BooleanType()),
            StructField("doc_inc", LongType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = sample_rows(pdf, cfg.freq_sample_mod)
            flat, offs = batch_shingles(
                pdf["caption"], pdf["phash"], cfg, pdf["phash_is_null"]
            )
            _, keys, _, _ = distinct_per_row(flat, offs)
            n = len(keys)
            yield pd.DataFrame(
                {
                    "shingle_hash": np.concatenate(
                        [keys.view(np.int64), np.zeros(1, dtype=np.int64)]
                    ),
                    "is_marker": np.concatenate(
                        [np.zeros(n, dtype=bool), np.ones(1, dtype=bool)]
                    ),
                    "doc_inc": np.concatenate(
                        [np.zeros(n, dtype=np.int64), np.array([len(pdf)], dtype=np.int64)]
                    ),
                }
            )

    return shingle_input(df).mapInPandas(gen, schema)


def shingle_counts(df: DataFrame, cfg: MhapConfig) -> DataFrame:
    """(shingle_hash, is_marker, df_count, doc_sum) — the one aggregation the
    df table needs.  Map-side combinable (partial agg), so hot shingles don't
    skew; the input scan + Arrow kernel run once for shingles AND the
    document-count markers."""
    return distinct_shingle_df(df, cfg).groupBy("shingle_hash", "is_marker").agg(
        F.count(F.lit(1)).alias("df_count"),
        F.sum("doc_inc").alias("doc_sum"),
    )


def df_ratio_table(counts: DataFrame, cfg: MhapConfig) -> DataFrame:
    """(shingle_hash long, df_ratio double) with df_ratio ≥ filter_cutoff,
    from the persisted ``shingle_counts`` of the corpus (FreqTable.compute
    builds and persists them).

    ONE pass over the input: shingle rows and per-batch document-count
    markers share the mapInPandas scan and the (shingle_hash, is_marker)
    shuffle, so the denominator needs no second scan of the corpus.  With
    freq_sample_mod > 1 the ratio is estimated on the deterministic
    hash-sample (denominator = sampled doc count), mirroring how a 10^12-row
    corpus-stats pass is actually run."""
    # ONE small driver collect instead of a broadcast-join of the one-row
    # marker aggregate (round-6 optimization): the crossJoin(broadcast(n_docs))
    # form cost a separate broadcast-build job plus AQE stage-jobs every run
    # (6 jobs measured per pipeline rep, ~1.5 s of driver latency at 20k
    # rows); collecting the scalar keeps the SAME float math — df_count
    # (long) / n_docs (long literal) is the identical double division — so
    # the retained set and every downstream weight are unchanged.  This
    # collect is also the job that materializes the persisted counts cache.
    n_docs_row = counts.where(F.col("is_marker")).agg(
        F.sum("doc_sum").alias("n_docs")
    ).collect()[0]
    n_docs = int(n_docs_row["n_docs"] or 0)
    return (
        counts.where(~F.col("is_marker"))
        .select(
            "shingle_hash",
            (F.col("df_count") / F.lit(n_docs)).alias("df_ratio"),
        )
        .filter(F.col("df_ratio") >= F.lit(cfg.filter_cutoff))
    )


def histogram_stats(
    hist: DataFrame,
    value_col: str = "value",
    count_col: str = "n",
    percent: float = 0.99,
) -> DataFrame:
    """One row (mean, stdev, cut) over a (value, count) histogram — exact
    semantics of mhap/main/GetHistogramStats.java:63-90: mean/stdev are
    count-weighted; ``cut`` is the smallest value whose RUNNING value·count
    mass (ascending value order) exceeds ``percent`` of the total mass.

    The global-order window runs on the histogram, not the data — a
    histogram's cardinality is the number of distinct values, so the single
    required sort is bounded no matter how large the corpus that produced
    it."""
    from pyspark.sql import Window

    v, c = F.col(value_col).cast("double"), F.col(count_col).cast("double")
    totals = hist.agg(
        F.sum(v * c).alias("mass"),
        F.sum(c).alias("total"),
        (F.sum(v * c) / F.sum(c)).alias("mean"),
    )
    w = Window.orderBy(F.col("val").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(v.alias("val"), c.alias("cnt")).withColumn(
        "run_mass", F.sum(F.col("val") * F.col("cnt")).over(w)
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .withColumn("sq", F.col("cnt") * F.pow(F.col("val") - F.col("mean"), 2))
        .agg(
            F.first("mean").alias("mean"),
            F.sqrt(F.sum("sq") / F.first("total")).alias("stdev"),
            F.min(
                F.when(
                    F.col("run_mass") / F.col("mass") > F.lit(percent), F.col("val")
                )
            ).alias("cut"),
        )
    )


def auto_filter_cutoff(
    input_df: DataFrame, cfg: MhapConfig, percent: float = 0.99
) -> float:
    """Percentile-based filter_cutoff selection from the corpus itself (the
    reference's GetHistogramStats workflow: build the k-mer count histogram,
    take the mass-percentile cut, feed it back as --filter-threshold).

    Returns the df RATIO at the cut, ready for
    ``cfg.with_overrides(filter_cutoff=...)``.  One job: the shingle-count
    aggregation reuses the same kernel as the df table; the histogram over
    df_count values is tiny."""
    counts = shingle_counts(
        input_df, cfg.with_overrides(filter_cutoff=0.0)
    ).persist()
    try:
        n_docs = counts.where(F.col("is_marker")).agg(F.sum("doc_sum")).collect()[0][0]
        hist = (
            counts.where(~F.col("is_marker"))
            .groupBy(F.col("df_count").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        row = histogram_stats(hist, percent=percent).collect()[0]
        cut = row["cut"]
        if cut is None or not n_docs:
            return cfg.filter_cutoff
        return float(cut) / float(n_docs)
    finally:
        counts.unpersist()


@dataclass
class FreqTable:
    """Driver-side frozen frequency table → broadcast into kernels.

    scaled_idf semantics exactly mirror mhap/sketch/FrequencyCounts.java:
    present key → 1 + (idf(val) − minIdf)/scale; missing key → idf_scale
    (:295-311); idf(f) = log(maxValue/f) (:250-253, offset 0);
    minIdf = idf(maxValue), maxIdf = idf(filter_cutoff) (:227-228)."""

    keys: np.ndarray      # uint64, ascending
    ratios: np.ndarray    # float64, aligned
    cfg_idf_scale: float
    filter_cutoff: float

    @classmethod
    def compute(cls, input_df: DataFrame, cfg: MhapConfig) -> "FreqTable":
        """The engine's one df-table builder: persist the (small, aggregated)
        shingle counts so the marker branch and the ratio branch of
        df_ratio_table share one execution of the scan + Arrow kernel,
        collect the cutoff-bounded table, then release the cache.  At 10^12
        rows the counts table is the shingle vocabulary — still far smaller
        than the corpus, and spillable (MEMORY_AND_DISK default)."""
        counts = shingle_counts(input_df, cfg).persist()
        try:
            return cls.from_df(df_ratio_table(counts, cfg), cfg)
        finally:
            counts.unpersist()

    @classmethod
    def from_df(cls, ratio_df: DataFrame, cfg: MhapConfig) -> "FreqTable":
        pdf = ratio_df.toPandas()
        keys = pdf["shingle_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        ratios = pdf["df_ratio"].to_numpy(dtype=np.float64)
        order = np.argsort(keys)
        return cls(
            keys=keys[order],
            ratios=ratios[order],
            cfg_idf_scale=cfg.idf_scale,
            filter_cutoff=cfg.filter_cutoff,
        )

    def _bounds(self) -> tuple[float, float, float]:
        max_value = float(self.ratios.max()) if len(self.ratios) else 1.0
        min_idf = float(np.log(max_value / max_value))
        # filter_cutoff=0 ("retain everything") has no finite idf ceiling —
        # anchor the span at the rarest OBSERVED ratio instead, so the
        # rarest retained shingle maps to the max weight (mirrored in
        # oracle.FreqFilter for parity)
        cutoff = self.filter_cutoff
        if cutoff <= 0.0:
            cutoff = float(self.ratios.min()) if len(self.ratios) else 1.0
        max_idf = float(np.log(max_value / cutoff))
        return max_value, min_idf, max_idf

    def scaled_idf(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized lookup: keys uint64 → scaled idf in [1, idf_scale]."""
        out = np.full(len(keys), self.cfg_idf_scale, dtype=np.float64)
        if not len(self.keys):
            return out
        max_value, min_idf, max_idf = self._bounds()
        pos = np.searchsorted(self.keys, keys)
        pos_c = np.minimum(pos, len(self.keys) - 1)
        hit = self.keys[pos_c] == keys
        # idf_scale=1 means "scale every idf into [1,1]" — flat weighting,
        # not a division by (idf_scale − 1) = 0
        if max_idf == min_idf or self.cfg_idf_scale <= 1.0:
            out[hit] = 1.0
            return out
        scale = (max_idf - min_idf) / (self.cfg_idf_scale - 1.0)
        idf = np.log(max_value / self.ratios[pos_c[hit]])
        out[hit] = 1.0 + (idf - min_idf) / scale
        return out
