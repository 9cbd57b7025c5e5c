"""Stage-1 sketch kernel: weighted MinHash + bottom-k + LSH band hashes.

Semantics are a batch-vectorized re-expression of
mhap/sketch/MinHashSketch.java:51-154:

* per-row distinct shingles with term frequencies (insertion order replaced
  by hash order — winners are decided by strict value comparisons, so order
  only breaks 2⁻⁶⁴-probability ties);
* weight = round(tf · scaledIdf) clamped to [1, MAX_WEIGHT]
  (mhap/sketch/MinHashSketch.java:111-124);
* ONE continuous XORShift stream per shingle, advanced ``weight`` steps per
  slot (:134-153) — the stream does NOT reset between slots, so slot ``i``
  depends only on slots ``< i`` and the first ``n`` slots of a wider run
  equal an ``n``-slot run;
* per-slot minimum in Java's SIGNED long order (``x < best[word]`` on long);
* slot stores the winning shingle's 32-bit half: even slot → low 32 bits,
  odd slot → high (:144-151);
* bottom-k sketch = k smallest distinct shingle hashes, ascending
  (mhap/sketch/BottomOverlapSketch.java:525-559, positions dropped per
  SURVEY.md §1.2 — images have no 1-D coordinate);
* band hashes fold ``rows_per_band`` consecutive slots per band
  (mhap/sketch/BitVectorIndex.java:129-165's banding, keyed by fmix64).
  The kernel steps only the ``band_count() * rows_per_band`` slots the
  bands fold; by the prefix property above these are bit-identical to the
  leading slots of a full ``num_hashes`` run (the reference steps and
  indexes every slot, mhap/impl/MinHashSearch.java:85-98).

Everything below runs on whole Arrow batches — no per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mhap_spark.config import MhapConfig, band_count_for
from mhap_spark.freq import FreqTable
from mhap_spark.hashing import fmix64
from mhap_spark.shingles import batch_shingles, distinct_per_row, shingle_input

_INT64_MAX = np.iinfo(np.int64).max
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
MAX_WEIGHT = 32  # vectorization bound on round(tf*idf): xorshift steps per slot

SIGNATURE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("n_shingles", IntegerType()),
        StructField("bottomk", ArrayType(LongType())),
        StructField("bands", ArrayType(LongType())),
    ]
)


def batch_weights(
    keys: np.ndarray, tfs: np.ndarray, cfg: MhapConfig, freq: FreqTable | None
) -> np.ndarray:
    """weight = round(tf·scaledIdf) clamped ≥1 (Java Math.round = floor(x+.5))."""
    if cfg.repeat_weight < 0.0:
        w = np.ones(len(keys), dtype=np.int64)
    elif freq is not None and 0.0 <= cfg.repeat_weight < 1.0:
        idf = freq.scaled_idf(keys)
        w = np.floor(tfs.astype(np.float64) * idf + 0.5).astype(np.int64)
        w = np.maximum(w, 1)
    else:
        w = tfs.astype(np.int64)
    return np.minimum(w, MAX_WEIGHT)


def _xorshift_inplace(x: np.ndarray, tmp: np.ndarray) -> None:
    """In-place xorshift_step: same three shift-xor rounds, but written
    through preallocated buffers.  The out-of-place form allocates six
    temporaries per call; at every stepped slot × every shingle in the
    batch that allocation traffic dominated the sketch kernel (measured
    2.3× at 512 slots)."""
    np.left_shift(x, 21, out=tmp)
    np.bitwise_xor(x, tmp, out=x)
    np.right_shift(x, 35, out=tmp)
    np.bitwise_xor(x, tmp, out=x)
    np.left_shift(x, 4, out=tmp)
    np.bitwise_xor(x, tmp, out=x)


def batch_minhash(
    rows: np.ndarray,
    keys: np.ndarray,
    weights: np.ndarray,
    row_starts: np.ndarray,
    num_slots: int,
) -> np.ndarray:
    """Weighted MinHash over a whole batch — cache-blocked by ROWS.

    rows/keys/weights: flat per-(row,distinct-shingle) arrays (rows ascending);
    row_starts: (n_rows+1) segment offsets into them.
    Returns the (n_rows, num_slots) int32 matrix of the first ``num_slots``
    slots; a narrower run is a column prefix of a wider one (module doc).

    Rows are mutually independent, so the batch is split into row groups of
    ~``_BLOCK_KEYS_BASE`` keys and each group runs the full ``num_slots``
    slot chain on L2-resident state (a 10k-row Arrow batch carries ~1M keys
    = 8 MB of stream state; at that size every one of the ~10 elementwise
    passes per slot round-trips DRAM, and the measured single-thread cost
    drops 1.6–1.7× when the state fits the 2 MB/core L2 — more under
    32-thread saturation, where DRAM contention is the measured scaling
    limiter, BENCH/BASELINE.md).  The block target scales with max-weight:
    the weighted path makes ``max_w`` shrinking-prefix numpy calls per
    slot, so smaller blocks raise fixed per-call overhead proportionally
    (measured: 32k keys best at max_w ≤ 4, 256k at max_w = 32).  Results
    are bit-identical to the unblocked form by construction (per-row
    outputs never see other rows); pinned by
    tests/test_engine_parity.py::test_row_blocked_minhash_identical.
    """
    n_rows = len(row_starts) - 1
    n_keys = len(keys)
    max_w = int(weights.max()) if n_keys else 1
    if n_keys and int(weights.min()) < 1:
        # every batch_weights path clamps to ≥ 1; the block kernel's step-0
        # fast path (advance ALL keys, state IS the first min) relies on it.
        # The pre-round-5 loop silently treated weight-0 keys as
        # never-contributing — reject instead of silently changing that.
        raise ValueError("batch_minhash requires weights >= 1 for every key")
    target = _BLOCK_KEYS_BASE * max(1, -(-max_w // 4))  # ceil(max_w/4)
    if n_keys <= target:
        return _minhash_block(rows, keys, weights, row_starts, num_slots)
    sig = np.empty((n_rows, num_slots), dtype=np.int32)
    lo = 0
    while lo < n_rows:
        hi = lo + 1
        while hi < n_rows and row_starts[hi + 1] - row_starts[lo] <= target:
            hi += 1
        a, b = row_starts[lo], row_starts[hi]
        sig[lo:hi] = _minhash_block(
            rows[a:b] - lo,
            keys[a:b],
            weights[a:b],
            row_starts[lo : hi + 1] - a,
            num_slots,
        )
        lo = hi
    return sig


_BLOCK_KEYS_BASE = 32_000  # ≈512 KB of (state + tmp + best) per block


def _minhash_block(
    rows: np.ndarray,
    keys: np.ndarray,
    weights: np.ndarray,
    row_starts: np.ndarray,
    num_slots: int,
) -> np.ndarray:
    """One row block of :func:`batch_minhash` (semantics doc there).

    Weighted stepping runs over keys sorted by weight DESCENDING, so the
    keys still active at step s are the contiguous prefix [:cnt_s] — plain
    views instead of the boolean-mask gather/scatter a weight-ordered subset
    would otherwise need per step (measured 6.7× on the masked steps; one
    inverse-permutation gather per slot brings the mins back to row order).
    Bit-exact with the direct form: every key's stream advances exactly
    ``weight`` steps per slot and the per-slot min is over the same states.
    """
    n_rows = len(row_starts) - 1
    n_keys = len(keys)
    sig = np.zeros((n_rows, num_slots), dtype=np.int32)
    if n_keys == 0:
        return sig
    key_lo = (keys & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(np.int32)
    key_hi = (keys >> np.uint64(32)).astype(np.uint32).view(np.int32)

    # Deduplicate identical (key, weight) STREAMS across the block's rows
    # (round-6): a shingle's xorshift trajectory — and therefore the states
    # visited in every slot — depends only on (key, weight), never on the
    # row, so rows sharing a (key, weight) pair can share one advancing
    # stream and read its per-slot minimum through a gather.  Near-dup
    # corpora repeat shingles heavily across rows (measured 4.2-4.7×
    # duplication per block on the 20k bench corpus), which makes the
    # per-slot stepping ~4× cheaper for one extra gather pass.  Per-row
    # results are bit-identical by construction: each (row, key) still sees
    # the minimum of exactly the ``weight`` states its own stream visits.
    okw = np.lexsort((weights, keys))
    ks, ws = keys[okw], weights[okw]
    new = np.empty(n_keys, dtype=bool)
    new[0] = True
    np.not_equal(ks[1:], ks[:-1], out=new[1:])
    new[1:] |= ws[1:] != ws[:-1]
    uk, uw = ks[new], ws[new]
    nu = len(uk)
    if nu == n_keys:
        # no duplicate streams — keep the original arrays/order and skip
        # the gather entirely (the pre-dedup code path, bit for bit)
        inv_flat = None
        uk, uw = keys, weights
    else:
        grp = np.cumsum(new) - 1
        inv_flat = np.empty(n_keys, dtype=np.int64)
        inv_flat[okw] = grp

    max_w = int(uw.max())
    if max_w > 1:
        order = np.argsort(-uw, kind="stable")
        inv_u = np.empty(nu, dtype=np.int64)
        inv_u[order] = np.arange(nu)
        x = uk[order].astype(np.uint64, copy=True)
        # cnt[s] = number of streams still advancing at step s (weight > s);
        # with the descending sort those are exactly x[:cnt[s]]
        bins = np.bincount(uw.astype(np.int64), minlength=max_w + 1)
        cnt = np.cumsum(bins[::-1])[::-1][1:]
        best = np.empty(nu, dtype=np.int64)
        # one combined unique→flat gather map per block
        gather = inv_u if inv_flat is None else inv_u[inv_flat]
    else:
        x = uk.astype(np.uint64, copy=True)
        gather = inv_flat  # None when there are no duplicate streams
    tmp = np.empty(nu, dtype=np.uint64)

    counts = np.diff(row_starts)
    empty_rows = counts == 0
    # reduceat runs over the NON-EMPTY rows' starts only: each is < n_keys
    # and strictly increasing, and each segment ends exactly at the next
    # non-empty row's start (empty rows share their successor's offset) or
    # at the end of the array.  Clamping the raw starts instead — the old
    # form, np.minimum(row_starts[:-1], n_keys - 1) — truncated the LAST
    # non-empty row's segment whenever the batch ended with zero-shingle
    # rows, dropping its final key from every per-slot min (silent
    # signature corruption at Arrow batch boundaries; pinned by
    # tests/test_engine_parity.py::test_trailing_empty_rows_batch_boundary).
    nz_starts = row_starts[:-1][~empty_rows]
    ar = np.arange(n_rows)

    with np.errstate(over="ignore"):
        for word in range(num_slots):
            if max_w == 1:
                # weight-1 fast path: one step for everyone, min IS the state
                _xorshift_inplace(x, tmp)
                bu = x.view(np.int64)
            else:
                # step 0 covers EVERY stream (cnt[0] == nu: weights ≥ 1),
                # so the first "min" is just the advanced state — one copy
                # instead of a sentinel fill plus a full-array minimum
                _xorshift_inplace(x, tmp)
                np.copyto(best, x.view(np.int64))
                for s in range(1, max_w):
                    c = int(cnt[s])
                    if c == 0:
                        break
                    _xorshift_inplace(x[:c], tmp[:c])
                    np.minimum(best[:c], x[:c].view(np.int64), out=best[:c])
                bu = best
            best_k = bu if gather is None else bu[gather]
            # per-row segment min + winner index (empty rows have no
            # segment and keep the sentinel; their sig is zeroed below)
            row_min = np.full(n_rows, _INT64_MAX, dtype=np.int64)
            row_min[~empty_rows] = np.minimum.reduceat(best_k, nz_starts)
            is_win = best_k == np.repeat(row_min, counts)
            win_pos = np.flatnonzero(is_win)
            win_rows = rows[win_pos]
            first = np.searchsorted(win_rows, ar)
            first = np.minimum(first, max(len(win_pos) - 1, 0))
            winner = win_pos[first] if len(win_pos) else np.zeros(n_rows, dtype=np.int64)
            half = key_lo if word % 2 == 0 else key_hi
            sig[:, word] = half[winner]
            sig[empty_rows, word] = 0
    return sig


def band_hashes(sig: np.ndarray, rows_per_band: int) -> np.ndarray:
    """Fold r consecutive slots per band into a 64-bit bucket key.

    sig: (n, nb·r) int32 → (n, nb) int64 — every column is folded, so a
    caller holding a wider signature slices it to ``band_count() * r``
    columns first (a width that is not a multiple of r fails the reshape).
    fmix64-chained so a band key commits to (band index, all r slot
    values)."""
    n, h = sig.shape
    r = rows_per_band
    nb = band_count_for(h, r)
    u = np.ascontiguousarray(sig).view(np.uint32).astype(np.uint64)
    u = u.reshape(n, nb, r)
    acc = np.tile((np.arange(nb, dtype=np.uint64) + np.uint64(1)) * _GOLDEN, (n, 1))
    with np.errstate(over="ignore"):
        for j in range(r):
            acc = fmix64(acc.ravel() ^ (u[:, :, j].ravel() + _GOLDEN)).reshape(n, nb)
    return acc.view(np.int64)


def compute_signatures(
    df: DataFrame, cfg: MhapConfig, freq: FreqTable | None
) -> DataFrame:
    """input (image_id, caption, phash, …) → signatures DataFrame
    (image_id, n_shingles, bottomk, bands).  One mapInPandas pass; the
    frequency table rides along as a task-local closure (broadcast by
    Spark's task serializer once per executor).  The slot matrix exists
    only inside the kernel, where the bands are derived from it: every
    consumer reads ``bands``, ``bottomk`` or ``n_shingles``.  The kernel
    steps exactly the ``band_count() * rows_per_band`` slots the bands
    fold — the ``num_hashes % rows_per_band`` trailing slots no band reads
    are never stepped."""
    k_bottom = cfg.ordered_sketch_size
    rpb = cfg.rows_per_band
    num_slots = cfg.band_count() * rpb

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat, offs = batch_shingles(
                pdf["caption"], pdf["phash"], cfg, pdf["phash_is_null"]
            )
            rows, keys, tfs, row_starts = distinct_per_row(flat, offs)
            weights = batch_weights(keys, tfs, cfg, freq)
            sig = batch_minhash(rows, keys, weights, row_starts, num_slots)
            bands = band_hashes(sig, rpb)
            keys_signed = keys.view(np.int64)
            n = len(pdf)
            bottoms = [
                keys_signed[row_starts[i] : min(row_starts[i] + k_bottom, row_starts[i + 1])]
                for i in range(n)
            ]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "n_shingles": np.diff(offs).astype(np.int32),
                    "bottomk": bottoms,
                    "bands": list(bands),
                }
            )

    out = shingle_input(df).mapInPandas(gen, SIGNATURE_SCHEMA)
    if cfg.min_shingles > 0:
        # explicit min-length load filter (mhap/main/MhapMain.java:79-81
        # analog); a plain predicate so Catalyst can push it into consumers
        out = out.where(F.col("n_shingles") >= F.lit(cfg.min_shingles))
    return out
