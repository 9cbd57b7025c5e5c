"""Single-node reference implementation (tests only).

A deliberately straightforward, per-row transcription of the reference's
math — MinHashSketch weighted sketching (mhap/sketch/MinHashSketch.java:51-179),
MinHashSearch inverted-index candidate generation + vote gate
(mhap/impl/MinHashSearch.java:85-204), bottom-k Jaccard refinement
(mhap/sketch/BottomOverlapSketch.java:304-364) with the Mash identity
transform (:391-395), and union-find connected components in place of the
cluster step.  The vectorized Spark engine is validated against this oracle
(SURVEY.md §5.2); both share the GRAFT-HASH-1 spec in ``hashing.py``.
"""

from __future__ import annotations

import math

import numpy as np

from mhap_spark.config import MhapConfig
from mhap_spark.hashing import (
    PHASH_NGRAM_BITS,
    caption_kgram_hashes,
    phash_ngram_hashes,
    xorshift_step,
)
from mhap_spark.minhash import MAX_WEIGHT


def row_shingles(caption: str, phash: int, cfg: MhapConfig) -> np.ndarray:
    """All shingle hashes of one row (duplicates kept — tf matters)."""
    parts = [caption_kgram_hashes(caption, cfg.k)]
    if cfg.use_phash_shingles:
        parts.append(
            phash_ngram_hashes(
                np.array([phash], dtype=np.int64), PHASH_NGRAM_BITS
            ).ravel()
        )
    return np.concatenate(parts)


def df_ratio_table(
    all_shingles: list[np.ndarray],
    ids: list[str] | None = None,
    sample_mod: int = 1,
) -> dict[int, float]:
    """Corpus document-frequency ratios (fraction of rows containing each
    shingle), keeping only entries ≥ filter_cutoff is the caller's choice —
    mirrors the reference's external k-mer frequency file
    (mhap/sketch/FrequencyCounts.java:63-229).  With sample_mod > 1 the same
    deterministic hash-sample as the engine (id_hash63 % mod == 0) is used."""
    from mhap_spark.hashing import string_id_hash63

    if sample_mod > 1 and ids is not None:
        keep = (string_id_hash63(ids) % np.uint64(sample_mod)) == 0
        all_shingles = [sh for sh, k in zip(all_shingles, keep) if k]
    n_docs = len(all_shingles)
    counts: dict[int, int] = {}
    for sh in all_shingles:
        for h in np.unique(sh):
            counts[int(h)] = counts.get(int(h), 0) + 1
    return {h: c / n_docs for h, c in counts.items()}


class FreqFilter:
    """Oracle analog of FrequencyCounts (mhap/sketch/FrequencyCounts.java).

    Only df-ratios ≥ filter_cutoff are retained in the map; missing keys get
    the max weight (rare shingles are the most informative)."""

    def __init__(self, ratios: dict[int, float], cfg: MhapConfig):
        self.cfg = cfg
        self.map = {h: r for h, r in ratios.items() if r >= cfg.filter_cutoff}
        self.max_value = max(self.map.values()) if self.map else 1.0
        # cutoff=0 anchor mirrors FreqTable._bounds: rarest observed ratio
        self.min_value = (
            cfg.filter_cutoff
            if cfg.filter_cutoff > 0.0
            else (min(self.map.values()) if self.map else 1.0)
        )
        # mhap/sketch/FrequencyCounts.java:227-228
        self.min_idf = self.idf(self.max_value)
        self.max_idf = self.idf(self.min_value)

    def idf(self, freq: float) -> float:
        # mhap/sketch/FrequencyCounts.java:250-253.  np.log, NOT math.log:
        # the engine (freq.py) computes this with np.log, and the two libm
        # paths disagree in the last ulp on ~20% of inputs on this host —
        # enough to flip a floor(tf*idf + 0.5) weight at an integer boundary
        # and desynchronize the xorshift stream length
        return float(np.log(self.max_value / freq))

    def scaled_idf(self, h: int) -> float:
        # mhap/sketch/FrequencyCounts.java:295-311
        val = self.map.get(h)
        if val is None:
            return self.cfg.idf_scale
        if self.max_idf == self.min_idf or self.cfg.idf_scale <= 1.0:
            return 1.0
        scale = (self.max_idf - self.min_idf) / (self.cfg.idf_scale - 1.0)
        return 1.0 + (self.idf(val) - self.min_idf) / scale


def compute_weights(
    keys: np.ndarray, tfs: np.ndarray, cfg: MhapConfig, freq: FreqFilter | None
) -> np.ndarray:
    """weight = round(tf·scaledIdf) clamped ≥1 (mhap/sketch/MinHashSketch.java:100-124).
    Java Math.round == floor(x+0.5)."""
    if cfg.repeat_weight < 0.0:
        w = np.ones(len(keys), dtype=np.int64)
    elif freq is not None and 0.0 <= cfg.repeat_weight < 1.0:
        idf = np.array([freq.scaled_idf(int(k)) for k in keys])
        w = np.floor(tfs.astype(np.float64) * idf + 0.5).astype(np.int64)
        w = np.maximum(w, 1)
    else:
        w = tfs.astype(np.int64)
    return np.minimum(w, MAX_WEIGHT)


def weighted_minhash(
    shingles: np.ndarray, cfg: MhapConfig, freq: FreqFilter | None
) -> np.ndarray:
    """Per-row weighted MinHash signature — transcription of
    mhap/sketch/MinHashSketch.java:51-154: insertion-ordered tf counting,
    weight = round(tf·scaledIdf) clamped ≥1, ONE continuous XORShift stream
    per k-mer advanced `weight` steps per slot, per-slot min taken in Java's
    SIGNED long order (`x < best[word]` on long), winner's 32-bit key half
    stored: even slot → low 32 bits, odd slot → high 32 bits."""
    # insertion-ordered distinct + counts (Long2ObjectLinkedOpenHashMap analog)
    order: dict[int, int] = {}
    for h in shingles.tolist():
        order[h] = order.get(h, 0) + 1
    if not order:
        # mirror the engine (minhash.batch_minhash): a zero-shingle row gets
        # an all-zeros signature and continues — raising here would make the
        # oracle unable to replicate the engine on exactly the degenerate
        # rows (empty caption + null phash) where batch-boundary bugs live
        return np.zeros(cfg.num_hashes, dtype=np.int32)

    keys = np.array(list(order.keys()), dtype=np.uint64)
    tfs = np.array(list(order.values()), dtype=np.int64)
    weights = compute_weights(keys, tfs, cfg, freq)

    key_lo = (keys & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(np.int32)
    key_hi = (keys >> np.uint64(32)).astype(np.uint32).view(np.int32)

    x = keys.copy()
    best = np.full(cfg.num_hashes, np.iinfo(np.int64).max, dtype=np.int64)
    hashes = np.zeros(cfg.num_hashes, dtype=np.int32)
    max_w = int(weights.max())
    int64_max = np.iinfo(np.int64).max
    for word in range(cfg.num_hashes):
        for step in range(max_w):
            active = step < weights
            x = np.where(active, xorshift_step(x), x)
            cand = np.where(active, x.view(np.int64), int64_max)
            i = int(np.argmin(cand))
            if cand[i] < best[word]:
                best[word] = cand[i]
                hashes[word] = key_lo[i] if word % 2 == 0 else key_hi[i]
    return hashes


def bottom_k(shingles: np.ndarray, size: int) -> np.ndarray:
    """Bottom-k of the distinct shingle hashes, ascending
    (mhap/sketch/BottomOverlapSketch.java:525-559 without positions —
    images have no 1-D offset, SURVEY.md §1.2)."""
    u = np.unique(shingles)  # sorted ascending, uint64
    return u[: min(size, len(u))]


def bottom_k_jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """computeKBottomSketchJaccard (mhap/sketch/BottomOverlapSketch.java:304-364):
    merge the two ascending sketches counting intersections among the k
    smallest of the union, k = min(|a|, |b|)."""
    k = min(len(a), len(b))
    if k == 0:
        return 0.0
    i = j = inter = union = 0
    while union < k:
        if a[i] < b[j]:
            i += 1
        elif a[i] > b[j]:
            j += 1
        else:
            inter += 1
            i += 1
            j += 1
        union += 1
    return inter / k


def jaccard_to_identity(score: float, k: int) -> float:
    """Mash distance transform (mhap/sketch/BottomOverlapSketch.java:391-395).

    Expression SHAPE mirrors the engine exactly — exp(log(...)/k), not
    exp(-(-1/k)*log(...)): (1.0/k)*L and L/k differ in the last ulp when k
    is not a power of two, which could flip a borderline threshold accept."""
    if score <= 0.0:
        return 0.0
    return math.exp(math.log(2.0 * score / (1.0 + score)) / k)


def find_pairs(
    ids: list[str],
    sigs: list[np.ndarray],
    bottoms: list[np.ndarray],
    cfg: MhapConfig,
) -> list[tuple[str, str, int, float, float]]:
    """Inverted-index candidate generation + vote gate + stage-2 filter —
    mhap/impl/MinHashSearch.java:85-251 in miniature.  Returns accepted
    (src, dst, votes, jaccard, score) with src < dst."""
    r = cfg.rows_per_band
    n_bands = cfg.band_count()
    # index: one dict per band (slot when r=1)
    index: list[dict[tuple, list[int]]] = [dict() for _ in range(n_bands)]
    for row, sig in enumerate(sigs):
        for b in range(n_bands):
            key = tuple(int(v) for v in sig[b * r : (b + 1) * r])
            index[b].setdefault(key, []).append(row)

    # per unordered pair: [vote count, ever-from-an-oversize-bucket]
    votes: dict[tuple[int, int], list] = {}
    star = cfg.candidate_mode == "star"

    def vote(p: tuple[int, int], oversize: bool) -> None:
        rec = votes.setdefault(p, [0, False])
        rec[0] += 1
        rec[1] = rec[1] or oversize

    for b in range(n_bands):
        for bucket in index[b].values():
            if len(bucket) < 2:
                continue
            oversize = len(bucket) > cfg.max_bucket_size
            if oversize and not star:
                continue
            if star:
                # loop vars named `row`/`member`, NOT `r` — `r` above is
                # cfg.rows_per_band, and shadowing it here would silently
                # poison any future band-slicing code below these loops
                hub = min(bucket, key=lambda row: ids[row])
                if not oversize:
                    for row in bucket:
                        if row != hub:
                            vote((hub, row), False)
                else:
                    # salted sub-bucket emission — mirrors candidates._pairs_star:
                    # salt = crc32(id) % ceil(size/cap); (sub-hub → member)
                    # edges plus (global min → sub-hub) chain links
                    import zlib

                    cap = cfg.max_bucket_size
                    n_salt = (len(bucket) + cap - 1) // cap
                    groups: dict[int, list[int]] = {}
                    for row in bucket:
                        s = zlib.crc32(ids[row].encode("utf-8")) % n_salt
                        groups.setdefault(s, []).append(row)
                    for members in groups.values():
                        sub_hub = min(members, key=lambda row: ids[row])
                        for member in members:
                            if member != sub_hub:
                                vote((sub_hub, member), True)
                        if sub_hub != hub:
                            vote((hub, sub_hub), True)
            else:
                for i in range(len(bucket)):
                    for j in range(i + 1, len(bucket)):
                        vote((bucket[i], bucket[j]), False)

    out = []
    base_gate = cfg.star_min_votes if star else cfg.min_band_matches()
    for (i, j), (v, any_oversize) in votes.items():
        gate = 1 if any_oversize else base_gate
        if v < gate:
            continue
        jac = bottom_k_jaccard(bottoms[i], bottoms[j])
        score = jaccard_to_identity(jac, cfg.k)
        if score >= cfg.threshold and jac >= cfg.min_jaccard:
            a, b = sorted((ids[i], ids[j]))
            out.append((a, b, v, jac, score))
    return out


def connected_components(
    ids: list[str], pairs: list[tuple[str, str]]
) -> dict[str, str]:
    """Union-find; cluster id = lexicographic min member (FIXTURES.md F4)."""
    parent = {i: i for i in ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return {i: find(i) for i in ids}


def run_pipeline(corpus: dict, cfg: MhapConfig):
    """Full oracle pipeline over a synth corpus dict → (pairs, clusters)."""
    ids = corpus["image_id"]
    shingle_sets = [
        row_shingles(c, int(p), cfg)
        for c, p in zip(corpus["caption"], corpus["phash"])
    ]
    freq = None
    # same gate as the engine (pipeline.run_pipeline): compute_weights reads
    # the df table only for 0 ≤ repeat_weight < 1 — ≥ 1.0 is plain tf
    if 0.0 <= cfg.repeat_weight < 1.0:
        freq = FreqFilter(
            df_ratio_table(shingle_sets, ids=ids, sample_mod=cfg.freq_sample_mod),
            cfg,
        )
    sigs = [weighted_minhash(sh, cfg, freq) for sh in shingle_sets]
    bottoms = [bottom_k(sh, cfg.ordered_sketch_size) for sh in shingle_sets]
    pairs = find_pairs(ids, sigs, bottoms, cfg)
    clusters = connected_components(ids, [(a, b) for a, b, *_ in pairs])
    return pairs, clusters
