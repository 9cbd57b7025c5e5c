"""Shingle computation — batch numpy kernels shared by the frequency pass and
the sketch kernel, plus a DataFrame-facing op for tests/introspection.

Mirrors HashUtils.computeSequenceHashesLong (mhap/sketch/HashUtils.java:237-258):
one hash per k-gram window, duplicates kept (term frequency feeds tf-idf).
Shingles = caption char k-grams ∪ phash bit n-grams (BASELINE.json north_star).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from mhap_spark.config import MhapConfig
from mhap_spark.hashing import (
    PHASH_NGRAM_BITS,
    caption_kgram_hashes_batch,
    phash_ngram_hashes,
)


def shingle_input(df):
    """The three columns the shingle kernels consume, with phash nulls made
    Arrow-safe BEFORE the Python worker sees them.

    The default Arrow→pandas conversion of a nullable long column is
    float64 + NaN, which is doubly wrong here: NaN→int64 casts silently to
    INT64_MIN (every null-phash row would then share identical phash
    shingles and spuriously cluster together), and non-null hashes above
    2^53 in the same batch lose low bits to the float round-trip.  Nulls
    are therefore resolved JVM-side: phash coalesced to 0 (keeps the
    column int64 end-to-end) plus an explicit null mask the kernel uses to
    emit zero phash shingles for those rows (caption-only, mirroring how a
    null caption contributes zero caption shingles)."""
    from pyspark.sql import functions as F

    return df.select(
        "image_id",
        "caption",
        F.coalesce(F.col("phash"), F.lit(0)).alias("phash"),
        F.col("phash").isNull().alias("phash_is_null"),
    )


def batch_shingles(
    captions: pd.Series,
    phashes: pd.Series,
    cfg: MhapConfig,
    phash_null: pd.Series | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """All shingle hashes of a batch of rows.

    Returns (flat, offsets): ``flat`` is the concatenated uint64 hash multiset,
    ``offsets[i]:offsets[i+1]`` slices row i.  Fully vectorized — one numpy
    pass for captions, one for phashes (no per-row Python in the hash math).
    ``phash_null`` (from ``shingle_input``) marks rows whose phash was NULL
    in the source table: they contribute zero phash shingles.
    """
    n = len(captions)
    cap_lists = caption_kgram_hashes_batch(captions.tolist(), cfg.k)
    if cfg.use_phash_shingles:
        ph = phash_ngram_hashes(phashes.to_numpy(dtype=np.int64), PHASH_NGRAM_BITS)
        if phash_null is not None:
            ph_counts = np.where(
                phash_null.to_numpy(dtype=bool), 0, ph.shape[1]
            ).astype(np.int64)
        else:
            ph_counts = np.full(n, ph.shape[1], dtype=np.int64)
    else:
        ph = np.empty((n, 0), dtype=np.uint64)
        ph_counts = np.zeros(n, dtype=np.int64)

    counts = np.array([len(c) for c in cap_lists], dtype=np.int64) + ph_counts
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat = np.empty(offsets[-1], dtype=np.uint64)
    for i in range(n):
        lo = offsets[i]
        c = cap_lists[i]
        flat[lo : lo + len(c)] = c
        if ph_counts[i]:
            flat[lo + len(c) : offsets[i + 1]] = ph[i]
    return flat, offsets


def distinct_per_row(
    flat: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-row distinct shingles with term frequencies, batch-vectorized.

    Returns (rows, keys, tfs, row_starts): ``keys`` ascending within each row,
    ``rows[i]`` = row index of keys[i], ``row_starts`` (len n+1) slices rows.
    """
    n = len(offsets) - 1
    row_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
    order = np.lexsort((flat, row_of))
    rs, fs = row_of[order], flat[order]
    if len(fs):
        new = np.empty(len(fs), dtype=bool)
        new[0] = True
        new[1:] = (fs[1:] != fs[:-1]) | (rs[1:] != rs[:-1])
        idx = np.flatnonzero(new)
        keys = fs[idx]
        rows = rs[idx]
        tfs = np.diff(np.append(idx, len(fs)))
    else:
        keys = np.empty(0, dtype=np.uint64)
        rows = np.empty(0, dtype=np.int64)
        tfs = np.empty(0, dtype=np.int64)
    row_starts = np.searchsorted(rows, np.arange(n + 1))
    return rows, keys, tfs, row_starts


def shingles_df(df, cfg: MhapConfig):
    """(image_id, shingles array<long>, n_shingles int) — introspection op.

    The production pipeline never materializes this (shingles are recomputed
    inside the sketch kernel to avoid shuffling wide arrays); exists for tests
    and the df-ratio pass."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("shingles", ArrayType(LongType())),
            StructField("n_shingles", IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat, offs = batch_shingles(
                pdf["caption"], pdf["phash"], cfg, pdf["phash_is_null"]
            )
            signed = flat.view(np.int64)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "shingles": [
                        signed[offs[i] : offs[i + 1]] for i in range(len(pdf))
                    ],
                    "n_shingles": np.diff(offs).astype(np.int32),
                }
            )

    return shingle_input(df).mapInPandas(gen, schema)
