"""GRAFT-HASH-1: the canonical hash spec of this engine.

The reference hashes k-mers with Guava murmur3_128 (mhap/sketch/
HashUtils.java:237-258) and advances per-slot MinHash streams with an
XORShift PRNG (mhap/sketch/MinHashSketch.java:139-142).  mmh3 is not
available in this environment, so per SURVEY.md §7.3 risk 1 we define the
graft's canonical hash spec once, in vectorized numpy, and use it
identically in the engine UDFs AND the single-node oracle; golden vectors
in tests/fixtures freeze it against regressions.

Spec
----
* ``fmix64``: the public murmur3 64-bit finalizer (avalanche mixer).
* caption shingles: FNV-1a-64 over the UTF-32 code points of each k-char
  window of the canonicalized caption, then fmix64, then ``>> 1`` so every
  hash fits a non-negative int64 (keeps uint64 order == int64 order across
  Spark/parquet/DuckDB).
* phash shingles: each ``PHASH_NGRAM_BITS``-wide window of the 64-bit
  perceptual hash, salted with its bit offset and a domain constant so the
  phash shingle space cannot collide with the caption space by construction.
* ``xorshift_step``: exact replica of the reference stream
  (x ^= x<<21; x ^= x>>>35; x ^= x<<4) on uint64.
"""

from __future__ import annotations

import numpy as np

_M1 = np.uint64(0xFF51AFD7ED558CCD)
_M2 = np.uint64(0xC4CEB9FE1A85EC53)
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_PHASH_DOMAIN = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio salt
PHASH_NGRAM_BITS = 16  # width of the phash bit n-gram windows


def fmix64(x: np.ndarray) -> np.ndarray:
    """murmur3 64-bit finalizer, vectorized. x: uint64 array."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(33)
        x *= _M1
        x ^= x >> np.uint64(33)
        x *= _M2
        x ^= x >> np.uint64(33)
    return x


def xorshift_step(x: np.ndarray) -> np.ndarray:
    """One XORShift step, exact replica of mhap/sketch/MinHashSketch.java:139-142
    (Java signed-long << / >>> match uint64 shifts bit-for-bit)."""
    with np.errstate(over="ignore"):
        x = x ^ (x << np.uint64(21))
        x = x ^ (x >> np.uint64(35))
        x = x ^ (x << np.uint64(4))
    return x


def canonicalize_caption(caption: str) -> str:
    """Canonical text form (plays the role of the reference's
    uppercase + reverse-complement canonicalization, mhap/impl/FastaData.java:194;
    orientation is genomics-only and dropped per SURVEY.md §1.2)."""
    import unicodedata

    s = unicodedata.normalize("NFC", caption or "").casefold()
    return " ".join(s.split())


def caption_kgram_hashes(caption: str, k: int) -> np.ndarray:
    """All k-char-window hashes of a canonicalized caption → uint64 array
    (63-bit values).  Mirrors HashUtils.computeSequenceHashesLong
    (mhap/sketch/HashUtils.java:237-258): one hash per k-gram, duplicates kept
    (term frequency matters for tf-idf weighting)."""
    s = canonicalize_caption(caption)
    n = len(s) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = (h ^ cp[j : j + n]) * _FNV_PRIME
    return fmix64(h) >> np.uint64(1)


def caption_kgram_hashes_batch(captions, k: int) -> list[np.ndarray]:
    """Vectorized batch variant: hashes every caption in one numpy pass.

    Concatenates all canonicalized captions, computes window hashes over the
    flat code-point array, then masks out windows that straddle caption
    boundaries.  This is the engine's hot path (Arrow batch → one call)."""
    canon = [canonicalize_caption(c) for c in captions]
    lens = np.array([len(s) for s in canon], dtype=np.int64)
    if lens.sum() == 0:
        return [np.empty(0, dtype=np.uint64) for _ in canon]
    flat = "".join(canon)
    cp = np.frombuffer(flat.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(cp) - k + 1
    out: list[np.ndarray]
    if n <= 0:
        h = np.empty(0, dtype=np.uint64)
    else:
        h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(k):
                h = (h ^ cp[j : j + n]) * _FNV_PRIME
        h = fmix64(h) >> np.uint64(1)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    out = []
    for st, ln in zip(starts, lens):
        m = ln - k + 1
        out.append(h[st : st + m].copy() if m > 0 else np.empty(0, dtype=np.uint64))
    return out


def phash_ngram_hashes(phash: np.ndarray, width: int) -> np.ndarray:
    """Bit n-gram hashes of 64-bit perceptual hashes, vectorized over rows.

    phash: int64/uint64 array of shape (n,).  Returns (n, 64-width+1) uint64.
    Window value is salted with its offset (position-sensitive, like the
    reference's positional ordered sketch) and a domain constant."""
    p = phash.astype(np.uint64)
    n_win = 64 - width + 1
    offs = np.arange(n_win, dtype=np.uint64)
    mask = np.uint64((1 << width) - 1)
    with np.errstate(over="ignore"):
        wins = (p[:, None] >> offs[None, :]) & mask
        seeded = wins ^ ((offs[None, :] + np.uint64(1)) * _PHASH_DOMAIN)
    return fmix64(seeded.ravel()).reshape(p.shape[0], n_win) >> np.uint64(1)


def string_id_hash63(ids) -> np.ndarray:
    """Deterministic 63-bit surrogate for string ids (FNV-1a-64 → fmix64 → >>1).

    Vectorized across the batch: the FNV chain is sequential per BYTE
    POSITION, not per id, so the loop runs max_len times over the whole
    batch instead of len(id) times per row — this sits inside the df-ratio
    scan's Arrow kernel on 100% of rows whenever freq sampling is on
    (PRESET_SCALE), where a per-row per-byte Python loop was the one
    remaining per-row-Python hot path."""
    n = len(ids)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in ids]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    max_len = int(lens.max())
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if max_len:
        flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
        # (n, max_len) zero-padded byte matrix — reshape when uniform,
        # flat integer scatter otherwise (2-D boolean-mask assignment is
        # ~50× slower than either)
        if len(flat) == n * max_len:
            buf = flat.reshape(n, max_len)
        else:
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            rows = np.repeat(np.arange(n, dtype=np.int64), lens)
            within = np.arange(len(flat), dtype=np.int64) - np.repeat(
                offs[:-1], lens
            )
            buf = np.zeros((n, max_len), dtype=np.uint8)
            buf.ravel()[rows * max_len + within] = flat
        prime = _FNV_PRIME  # the ONE spec definition — never re-hardcoded
        buf64 = buf.astype(np.uint64)
        uniform = len(flat) == n * max_len
        with np.errstate(over="ignore"):
            for j in range(max_len):
                # full-vector step + where-select (boolean fancy indexing
                # here costs more than it saves); rows already past their
                # length keep their finished hash
                step = (h ^ buf64[:, j]) * prime
                h = step if uniform else np.where(lens > j, step, h)
    return fmix64(h) >> np.uint64(1)
