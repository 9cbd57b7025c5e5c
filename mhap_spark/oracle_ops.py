"""Sequential numpy replicas of the ops-layer operators, used ONLY by the
contract oracles in ``__spark_entry__.oracle_sql`` (and their pytest pins).

Same role as :mod:`mhap_spark.oracle` plays for the core pipeline: a
Spark-free, single-threaded recomputation of each operator's defining
semantics, so the driver's DuckDB gate can hash-check that the DISTRIBUTED
execution (mapInPandas batching, bucket caps, joins, aggregation order)
produces exactly what the sequential definition dictates.  Shared leaf
primitives (fmix64, k-gram hashing, codecs) are reused — the contract pins
the formula once, not a copy of it — while everything structural (bucketing,
voting, pairing, confusion counting, k-means, CMS cells) is re-derived here
from the operator's documented definition, not imported from the ops module
under test.

Float discipline: wherever the Spark side folds doubles row-wise
(``F.aggregate`` in ops/similarity._dot) the replica folds in the same
left-to-right IEEE-754 order; wherever Spark rounds (``F.round`` =
BigDecimal HALF_UP on the shortest decimal form) the replica uses
:func:`round_half_up`.  Cross-partition float AGGREGATION is never
replicated — the contract queries quantize per row before any sum.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from mhap_spark.config import MhapConfig

_MASK = 0xFFFFFFFFFFFFFFFF

# ---------------------------------------------------------------------------
# Spark-compatible xxHash64 (sql/catalyst XxHash64 expression, seed 42):
# needed to replicate F.xxhash64 keys/orderings driver-side.  Public
# algorithm (Collet's xxHash, BSD); constants are the spec's primes.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def _to_signed(x: int) -> int:
    x &= _MASK
    return x - (1 << 64) if x >= (1 << 63) else x


def xxhash64_long(v: int, seed: int = 42) -> int:
    """XXH64 of one 64-bit integer (Spark's XxHash64 on a LongType column)."""
    h = (seed + _P5 + 8) & _MASK
    k1 = (_rotl(((v & _MASK) * _P2) & _MASK, 31) * _P1) & _MASK
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _MASK
    return _to_signed(_avalanche(h))


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string (Spark's XxHash64 on a StringType column
    hashes the UTF-8 bytes)."""
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while off + 32 <= n:
            for i, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[off + 8 * i : off + 8 * i + 8], "little")
                v = (_rotl((v + k * _P2) & _MASK, 31) * _P1) & _MASK
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while off + 8 <= n:
        k = int.from_bytes(data[off : off + 8], "little")
        h ^= (_rotl((k * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        off += 8
    if off + 4 <= n:
        k = int.from_bytes(data[off : off + 4], "little")
        h ^= (k * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        off += 1
    return _to_signed(_avalanche(h))


# ---------------------------------------------------------------------------
# Spark F.round replica: BigDecimal.valueOf(double) == shortest decimal form
# (Python repr), setScale(n, HALF_UP).
# ---------------------------------------------------------------------------


def round_half_up(x: float, ndigits: int = 6) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    if x != x or x in (float("inf"), float("-inf")):
        return x
    q = Decimal(1).scaleb(-ndigits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# ops/dedup.minhash_lsh_doc_pairs replica: char-k-gram shingles →
# weighted MinHash → band buckets → all-pairs votes ≥ gate ("pairs" mode —
# every bucket of size in [2, cap] emits all pairs).
# ---------------------------------------------------------------------------


def minhash_doc_candidates(
    doc_ids: list[str], texts: list[str], cfg: MhapConfig
) -> list[tuple[str, str, int]]:
    from mhap_spark import oracle
    from mhap_spark.minhash import band_hashes

    # documents carry NO phash: the engine (ops/dedup.minhash_lsh_doc_pairs)
    # feeds a NULL phash that shingle_input null-masks to zero phash
    # shingles.  Passing phash=0 here under a use_phash_shingles=True cfg
    # would add 49 IDENTICAL phash-0 bit-ngrams to EVERY doc — manufactured
    # cross-document overlap the engine never sees.  Mirror the null mask by
    # disabling phash shingles outright for this text-only replica.
    cfg = cfg.with_overrides(use_phash_shingles=False)
    sigs = []
    keep_ids = []
    for did, text in zip(doc_ids, texts):
        sh = oracle.row_shingles(text, 0, cfg)
        if cfg.min_shingles > 0 and len(sh) < cfg.min_shingles:
            continue
        sigs.append(oracle.weighted_minhash(sh, cfg, None))
        keep_ids.append(did)
    if not sigs:
        return []
    # the engine steps only the slots its bands fold
    n_slots = cfg.band_count() * cfg.rows_per_band
    bands = band_hashes(
        np.asarray(sigs, dtype=np.int32)[:, :n_slots], cfg.rows_per_band
    )  # (n, nb) int64 — band index is salted into each value
    buckets: dict[int, list[int]] = {}
    for row in range(bands.shape[0]):
        for b in bands[row].tolist():
            buckets.setdefault(b, []).append(row)
    votes: Counter = Counter()
    for members in buckets.values():
        if not 2 <= len(members) <= cfg.max_bucket_size:
            continue
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, bb = sorted((keep_ids[members[i]], keep_ids[members[j]]))
                votes[(a, bb)] += 1
    gate = cfg.min_band_matches()
    return sorted(
        (s, d, v) for (s, d), v in votes.items() if v >= gate
    )


# ---------------------------------------------------------------------------
# ops/dedup.simhash_near_dup_pairs replica (summarized as the contract
# query's hamming histogram).  Blocking recall is exactly 1.0 by pigeonhole
# and no chunk bucket can exceed the cap at oracle scale (n ≤ cap), so the
# sequential form is a brute-force Hamming filter.
# ---------------------------------------------------------------------------


def simhash64(text: str, k: int = 8) -> int:
    from mhap_spark.hashing import caption_kgram_hashes

    g = caption_kgram_hashes(text, k)
    if not len(g):
        return 0
    bits = (g[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    votes = 2 * bits.sum(axis=0).astype(np.int64) - len(g)
    out = np.uint64(
        ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum()
    )
    return int(out.view(np.int64))


def simhash_hamming_hist(
    texts: list[str], k: int = 8, max_hamming: int = 2, n_cap_check: int = 512
) -> list[tuple[int, int]]:
    sh = np.array([simhash64(t, k) for t in texts], dtype=np.int64).view(np.uint64)
    if len(sh) > n_cap_check:
        raise ValueError(
            "sequential simhash replica assumes no chunk bucket exceeds the "
            f"cap; guaranteed only for n ≤ {n_cap_check} rows"
        )
    x = sh[:, None] ^ sh[None, :]
    ham = np.zeros_like(x, dtype=np.int64)
    for _ in range(64):
        ham += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    iu = np.triu_indices(len(sh), k=1)
    hist = Counter(ham[iu][ham[iu] <= max_hamming].tolist())
    return sorted(hist.items())


# ---------------------------------------------------------------------------
# ops/sketches.CountMin replica (cells + point estimates) over word keys.
# ---------------------------------------------------------------------------


def cms_word_rows(
    words: list[str], depth: int = 4, width: int = 4096, seed: int = 42,
    topn: int = 20,
) -> list[tuple[str, int, int]]:
    """(word, exact_count, cms_est) for the top-``topn`` words by
    (count desc, word asc) — the contract query's output.  Keys are
    Spark-compatible xxhash64 of the word; the sketch matrix is rebuilt
    cell-for-cell from the CountMin definition (seeded fmix64 row family,
    min over rows)."""
    from mhap_spark.hashing import fmix64
    from mhap_spark.ops.sketches import _GOLDEN

    counts = Counter(words)
    keys = {w: xxhash64_bytes(w.encode("utf-8")) for w in counts}
    matrix = np.zeros((depth, width), dtype=np.int64)
    with np.errstate(over="ignore"):
        for w, c in counts.items():
            k = np.uint64(keys[w] & _MASK)
            for d in range(depth):
                salt = np.uint64(seed) + _GOLDEN * np.uint64(d + 1)
                slot = int(fmix64(np.array([k ^ salt], dtype=np.uint64))[0] % np.uint64(width))
                matrix[d, slot] += c
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
    out = []
    with np.errstate(over="ignore"):
        for w, c in top:
            k = np.uint64(keys[w] & _MASK)
            est = min(
                int(
                    matrix[
                        d,
                        int(
                            fmix64(
                                np.array(
                                    [k ^ (np.uint64(seed) + _GOLDEN * np.uint64(d + 1))],
                                    dtype=np.uint64,
                                )
                            )[0]
                            % np.uint64(width)
                        ),
                    ]
                )
                for d in range(depth)
            )
            out.append((w, c, est))
    return out


# ---------------------------------------------------------------------------
# ops/rocstats.cluster_confusion replica (caps inactive at oracle scale).
# ---------------------------------------------------------------------------


def cluster_confusion_row(
    clusters: dict[str, str], truth: dict[str, int], max_cluster_members: int = 4096
) -> tuple:
    for name, assign in (("engine", clusters), ("truth", truth)):
        biggest = max(Counter(assign.values()).values(), default=0)
        if biggest > max_cluster_members:
            raise ValueError(
                f"sequential confusion replica assumes the {name} cluster cap "
                f"({max_cluster_members}) is inactive; saw size {biggest}"
            )
    by_c: dict = {}
    for img, c in clusters.items():
        by_c.setdefault(c, []).append(img)
    found = set()
    for members in by_c.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                found.add((members[i], members[j]))
    by_t: dict = {}
    for img, c in truth.items():
        by_t.setdefault(c, []).append(img)
    tpairs = set()
    for members in by_t.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                tpairs.add((members[i], members[j]))
    universe = set(truth)
    f_in = {p for p in found if p[0] in universe and p[1] in universe}
    tp = len(f_in & tpairs)
    fp = len(f_in - tpairs)
    fn = len(tpairs - f_in)
    n = len(universe)
    tn = n * (n - 1) // 2 - tp - fp - fn
    div = lambda a, b: round_half_up(a / b, 6) if b else None
    return (
        tp, fp, fn, tn,
        div(tp, tp + fn), div(tn, tn + fp), div(tp, tp + fp),
        len(found) - tp - fp,
    )


# ---------------------------------------------------------------------------
# ops/similarity replicas.  Cosines fold left-to-right in float64 exactly
# like the JVM F.aggregate lambda; inputs are the float32 embeddings cast
# element-wise to double (lossless).
# ---------------------------------------------------------------------------


def _fold_dot(a: np.ndarray, b: np.ndarray) -> float:
    acc = 0.0
    for x, y in zip(a.tolist(), b.tolist()):
        acc = acc + x * y
    return acc


def _fold_norm(a: np.ndarray) -> float:
    import math

    acc = 0.0
    for v in a.tolist():
        acc = acc + v * v
    return math.sqrt(acc)


def _rescored_pairs(
    ids: np.ndarray, X: np.ndarray, cand: set[tuple[int, int]], min_cos: float
) -> list[tuple[int, int, float]]:
    idx = {int(i): r for r, i in enumerate(ids.tolist())}
    norms = {i: _fold_norm(X[r]) for i, r in idx.items()}
    out = []
    for s, d in sorted(cand):
        cs = _fold_dot(X[idx[s]], X[idx[d]]) / (norms[s] * norms[d])
        if cs >= min_cos:
            out.append((s, d, round_half_up(cs, 6)))
    return out


def lsh_ann_rows(
    ids: np.ndarray, X: np.ndarray, n_bits: int, n_tables: int,
    min_cos: float, seed: int = 42, max_bucket_size: int = 1024,
) -> list[tuple[int, int, float]]:
    """ops/similarity.lsh_bucketed_neighbors replica: seeded hyperplane sign
    codes per table → same-bucket pairs → exact-cosine rescore ≥ min_cos."""
    if len(ids) == 0:
        return []  # engine returns a typed empty frame; mirror with []
    keep = np.array([_fold_norm(x) > 0 for x in X])
    ids, X = ids[keep], X[keep]
    if len(ids) == 0:
        return []
    rng_planes = [
        np.random.default_rng(seed + t).standard_normal((n_bits, X.shape[1]))
        for t in range(n_tables)
    ]
    P = np.concatenate(rng_planes)
    weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)
    bits = (X @ P.T) > 0
    codes = (
        bits.reshape(len(X), n_tables, -1).astype(np.uint64) * weights
    ).sum(axis=2).astype(np.uint64)
    cand: set[tuple[int, int]] = set()
    for t in range(n_tables):
        buckets: dict[int, list[int]] = {}
        for r, c in enumerate(codes[:, t].tolist()):
            buckets.setdefault(c, []).append(r)
        for members in buckets.values():
            if not 2 <= len(members) <= max_bucket_size:
                continue
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    a, b = sorted((int(ids[members[i]]), int(ids[members[j]])))
                    cand.add((a, b))
    return _rescored_pairs(ids, X, cand, min_cos)


def ivf_ann_rows(
    ids: np.ndarray, X: np.ndarray, n_centroids: int, n_probe: int,
    min_cos: float, seed: int = 42, max_sample: int = 4096,
    max_bucket_size: int = 4096, kmeans_iters: int = 8,
) -> list[tuple[int, int, float]]:
    """ops/similarity.ivf_neighbors replica: hash-rank-ordered training
    sample → spherical k-means → multi-probe cell assignment → same-cell
    pairs → exact-cosine rescore."""
    if len(ids) == 0:
        return []  # engine returns a typed empty frame; mirror with []
    keep = np.array([_fold_norm(x) > 0 for x in X])
    ids_k, X_k = ids[keep], X[keep]
    if len(ids_k) == 0:
        return []
    # training sample: orderBy(xxhash64(id), id).limit(max_sample) — the
    # FULL corpus feeds training (pre-norm-filter, like the engine's df)
    order = sorted(range(len(ids)), key=lambda r: (xxhash64_long(int(ids[r])), int(ids[r])))
    sample = order[:max_sample]
    S = X[sample].astype(np.float64)
    # _kmeans_cosine replica
    rng = np.random.default_rng(seed)
    S = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(S))
    C = S[rng.choice(len(S), size=k, replace=False)]
    for _ in range(kmeans_iters):
        assign = (S @ C.T).argmax(axis=1)
        for j in range(k):
            members = S[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    C[j] = c / n
    n_probe = min(n_probe, len(C))
    # assignment kernel replica (norm-filtered rows only)
    norms = np.linalg.norm(X_k, axis=1, keepdims=True)
    Xn = X_k / norms
    sims = Xn @ C.T
    top = np.argsort(-sims, axis=1)[:, :n_probe]
    cells: dict[int, list[int]] = {}
    for r in range(len(X_k)):
        for c in top[r].tolist():
            cells.setdefault(c, []).append(r)
    cand: set[tuple[int, int]] = set()
    for members in cells.values():
        if not 2 <= len(members) <= max_bucket_size:
            continue
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = sorted((int(ids_k[members[i]]), int(ids_k[members[j]])))
                if a != b:
                    cand.add((a, b))
    return _rescored_pairs(ids_k, X_k, cand, min_cos)


# ---------------------------------------------------------------------------
# ops/multimodal replicas over the synthetic corpus (per-row decode — no
# cross-row float aggregation on the Spark side by construction).
# ---------------------------------------------------------------------------


def multimodal_summary_row(corpus: dict, out_w: int = 16, out_h: int = 16) -> tuple:
    """(n_resized, n_resize_ok, n_frames, rms_u_sum) — the contract query's
    one-row summary of resize/frame/audio over the synthetic corpus.  Every
    still-image row emits exactly one frame row (success or decode_ok=false),
    and rms is quantized per row before the integer sum, mirroring the
    order-independent aggregate the query computes."""
    from mhap_spark.codecs import decode_image, encode_image
    from mhap_spark.ops.multimodal import resize_bilinear

    n = len(corpus["image_id"])
    n_resize_ok = 0
    rms_u_sum = 0
    for blob, fmt in zip(corpus["bytes"], corpus["fmt"]):
        b = bytes(blob)
        try:
            px = decode_image(b, fmt)
            encode_image(resize_bilinear(px, out_h, out_w), fmt)
            n_resize_ok += 1
        except Exception:
            pass
        samples = np.frombuffer(b[: len(b) - (len(b) % 2)], dtype="<i2")
        rms = 0.0
        if len(samples):
            x = samples.astype(np.float64) / 32768.0
            rms = float(np.sqrt(np.mean(x * x)))
        rms_u_sum += int(round_half_up(rms * 1e6, 0))
    return (n, n_resize_ok, n, rms_u_sum)


def image_stats_rows(corpus: dict) -> list[tuple]:
    from mhap_spark.codecs import decode_image, phash64

    out = []
    for img_id, blob, fmt, stored_ph in zip(
        corpus["image_id"], corpus["bytes"], corpus["fmt"], corpus["phash"]
    ):
        ok, err, w, h, luma, ph = False, "", 0, 0, 0.0, 0
        try:
            px = decode_image(bytes(blob), fmt)
            ok = True
            h, w = px.shape[0], px.shape[1]
            luma = float(px.mean())
            ph = int(np.int64(np.uint64(phash64(px))))
        except NotImplementedError as e:
            err = f"unsupported codec: {e}"
        except Exception as e:
            err = f"decode failed: {e}"
        out.append(
            (img_id, ok, err, w, h, luma, ph, bool(ok and ph == int(stored_ph)))
        )
    return out


# ---------------------------------------------------------------------------
# Spark HyperLogLog++ replica (approx_count_distinct, relativeSD = 0.05).
# Algorithm per the public HLL++ paper (Heule et al., EDBT 2013) as
# engineered in Spark's catalyst HyperLogLogPlusPlusHelper (OSS): one
# xxhash64(value, seed 42) per row, p index bits / leading-zero registers,
# linear counting below the threshold, and K-nearest-knot bias interpolation
# over the paper's published tables (mhap_spark.hll_constants).  Register
# max-merge is order- and partitioning-independent, so the sequential
# replica predicts the distributed aggregate exactly.
# ---------------------------------------------------------------------------


def hllpp_count_distinct(values, rsd: float = 0.05) -> int:
    """Exact sequential replica of ``F.approx_count_distinct(col, 0.05)``
    over an int64 column — same estimate to the last digit."""
    import math
    from bisect import bisect_left

    from mhap_spark import hll_constants as hc

    p = int(math.ceil(2.0 * math.log(1.106 / rsd) / math.log(2.0)))
    if p != 9:
        raise ValueError("only the p=9 (rsd=0.05 default) tables are carried")
    m = 1 << p
    idx_shift = 64 - p
    w_padding = 1 << (p - 1)
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m

    registers = [0] * m
    for v in values:
        x = xxhash64_long(int(v)) & _MASK
        idx = x >> idx_shift
        w = ((x << p) & _MASK) | w_padding
        pw = 65 - w.bit_length()  # Long.numberOfLeadingZeros(w) + 1
        if pw > registers[idx]:
            registers[idx] = pw

    z_inverse, v_zero = 0.0, 0.0
    for r in registers:  # register order == Spark's word-major query order
        z_inverse += 1.0 / (1 << r)
        if r == 0:
            v_zero += 1.0
    e_raw = alpha_m2 / z_inverse

    def bias(e: float) -> float:
        knots = hc.RAW_ESTIMATE_P9
        n = len(knots)
        # == Java Arrays.binarySearch: match index, else insertion point
        i = bisect_left(knots, e)
        low = max(i - hc.K_NEAREST + 1, 0)
        high = min(low + hc.K_NEAREST, n)
        while high < n and (e - knots[high]) ** 2 < (e - knots[low]) ** 2:
            low += 1
            high += 1
        return sum(hc.BIAS_P9[low:high]) / (high - low)

    def e_bias_corrected(e: float) -> float:
        return e - bias(e) if e < 5.0 * m else e  # p < 19 always holds here

    if v_zero > 0:
        h_lin = m * math.log(m / v_zero)
        if h_lin <= hc.THRESHOLDS[p - 4] or e_raw <= 2.5 * m:
            est = h_lin
        else:
            est = e_bias_corrected(e_raw)
    else:
        est = e_bias_corrected(e_raw)
    return int(math.floor(est + 0.5))  # Java Math.round


# ---------------------------------------------------------------------------
# ops/dedup.minhash_dedup_keep replica: union-find with min-id roots over the
# sequential candidate pair set (the same pairs minhash_doc_candidates
# produces — already pinned set-exact vs the engine), then a keep decision
# per input id.  Mirrors cluster.connected_components' component-min rule
# (FIXTURES.md F4) in ~20 lines of pure Python.
# ---------------------------------------------------------------------------


def dedup_keep_rows(
    doc_ids: list[str], pairs: list[tuple[str, str, int]]
) -> list[tuple[str, str, bool]]:
    """(doc_id, cluster_id = component min, keep = id == cluster_id) for
    EVERY id in ``doc_ids`` — singletons (including docs that produced no
    signature) map to themselves, exactly like the engine's vertex join."""
    parent: dict[str, str] = {d: d for d in doc_ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _votes in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root: binary string order, same as Spark's ASCII compare
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return [(d, find(d), d == find(d)) for d in doc_ids]


def embedding_keep_rows(
    ids: np.ndarray, X: np.ndarray, labels: list, min_cos: float,
    max_block_size: int = 8192,
) -> list[tuple[int, int, bool]]:
    """ops/similarity.embedding_dedup_keep replica: blocked sequential-fold
    cosine pairs (same JVM fold order as _fold_dot/_fold_norm, zero-norm
    rows excluded from pairing like with_unit_vectors, blocks above the
    engine's ``max_block_size`` cap dropped from pairing exactly like its
    count pre-pass) → union-find keep manifest over ALL ids (zero-norm and
    capped-block rows stay as singletons)."""
    by_label: dict = {}
    for i in range(len(ids)):
        if labels[i] is None:
            continue  # SQL null != null: the engine's equi-join on blk
            # never pairs null-label rows — they stay singletons
        by_label.setdefault(labels[i], []).append(i)
    pairs = []
    for members in by_label.values():
        live = [i for i in members if _fold_norm(X[i]) > 0]
        if not 2 <= len(live) <= max_block_size:
            continue
        for a in range(len(live)):
            for b in range(a + 1, len(live)):
                i, j = live[a], live[b]
                cos = _fold_dot(X[i], X[j]) / (_fold_norm(X[i]) * _fold_norm(X[j]))
                if cos >= min_cos:
                    lo, hi = sorted((int(ids[i]), int(ids[j])))
                    pairs.append((lo, hi, 1))
    return dedup_keep_rows([int(v) for v in ids], pairs)
