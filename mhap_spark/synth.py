"""Deterministic synthetic image+caption corpus with planted near-dup clusters.

Implements FIXTURES.md F1: rows organized into clusters with seeded-Zipf
sizes (many singletons, a few hot 50–500 clusters to exercise skew/salting);
within a cluster, images are noise perturbations of a base image and captions
are small edits of a base caption.  Ground truth emitted alongside.

Everything is seeded numpy — no external data, identical output across runs
and across parallelism levels (the scaling bench depends on that).
"""

from __future__ import annotations

import numpy as np

from mhap_spark.codecs import decode_image, encode_image, phash64, phash64_batch

def _make_vocab(n: int = 2000) -> list[str]:
    """Deterministic pseudo-word vocabulary.  Large enough that unrelated
    captions share almost no 16-char windows (real caption corpora have
    ~10^5+ vocabularies; a tiny vocab manufactures cross-cluster overlap)."""
    cons = "bcdfghjklmnprstvwz"
    vow = "aeiou"
    syll = [c + v for c in cons for v in vow]  # 90 syllables
    m = len(syll)
    words = []
    for i in range(n):
        a, b = syll[i % m], syll[(i // m + i) % m]
        c = syll[(i * 37 + 5) % m] if i % 3 == 0 else ""
        words.append(a + b + c)
    assert len(set(words)) == n, "vocab collision"
    return words


_WORDS = _make_vocab()


def _zipf_cluster_sizes(rng: np.random.Generator, n_rows: int) -> list[int]:
    sizes: list[int] = []
    total = 0
    while total < n_rows:
        u = rng.random()
        if u < 0.70:
            s = 1
        elif u < 0.90:
            s = int(rng.integers(2, 6))
        elif u < 0.985:
            s = int(rng.integers(6, 30))
        else:
            s = int(rng.integers(50, 501))  # hot clusters → skewed bands
        s = min(s, n_rows - total)
        sizes.append(s)
        total += s
    return sizes


def _base_caption(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 18))  # 40–120+ chars
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def _edit_caption(rng: np.random.Generator, base: str, max_edits: int = 2) -> str:
    s = list(base)
    for _ in range(int(rng.integers(0, max_edits + 1))):
        pos = int(rng.integers(0, len(s)))
        op = int(rng.integers(0, 3))
        ch = chr(ord("a") + int(rng.integers(0, 26)))
        if op == 0:
            s[pos] = ch
        elif op == 1:
            s.insert(pos, ch)
        elif len(s) > 20:
            del s[pos]
    return "".join(s)


def _base_image(rng: np.random.Generator) -> np.ndarray:
    """Low-frequency random pattern — stable under mild noise, so intra-cluster
    phashes stay close.  8×8 coarse cells fill the DCT hash's full 8×8
    low-frequency block, so inter-cluster phashes are well separated (a 4×4
    pattern leaves most hash bits thresholding near-zero coefficients →
    correlated phashes across clusters)."""
    coarse = rng.integers(0, 256, size=(8, 8, 3)).astype(np.float64)
    img = np.repeat(np.repeat(coarse, 4, axis=0), 4, axis=1)
    return np.clip(img, 0, 255)


def generate_corpus(
    n_rows: int, seed: int = 42, with_images: bool = True, mega_cluster: int = 0
) -> dict[str, np.ndarray | list]:
    """Build the corpus.  Returns columns (python lists / numpy arrays):
    image_id, bytes, w, h, fmt, caption, phash, true_cluster, pixels
    (pixels = pre-encode ground truth for the PSNR invariant test).

    with_images=False skips the (python-loop) PNG encode — phash comes from
    the raw pixels and ``bytes`` is empty; used by the large bench tiers where
    only (caption, phash) feed the pipeline.

    mega_cluster > 0 plants ONE duplicate cluster of exactly that size as
    cluster 0 (the 100-TB boilerplate/empty-caption case — far beyond the
    band-bucket cap), then fills the remaining rows with the usual Zipf
    mix; 0 leaves the output byte-identical to earlier rounds."""
    rng = np.random.default_rng(seed)
    if mega_cluster > n_rows:
        raise ValueError("mega_cluster larger than corpus")
    sizes = ([mega_cluster] if mega_cluster > 0 else []) + _zipf_cluster_sizes(
        rng, n_rows - mega_cluster
    )

    image_id: list[str] = []
    blob: list[bytes] = []
    fmt_col: list[str] = []
    caption: list[str] = []
    phash_col = np.empty(n_rows, dtype=np.uint64)
    true_cluster = np.empty(n_rows, dtype=np.int64)
    pixels_col: list[np.ndarray] = []

    i = 0
    for cid, size in enumerate(sizes):
        base_img = _base_image(rng)
        base_cap = _base_caption(rng)
        if with_images:
            for _ in range(size):
                noise = rng.normal(0.0, 1.5, size=base_img.shape)
                px = np.clip(base_img + noise, 0, 255).astype(np.uint8)
                cap = _edit_caption(rng, base_cap) if size > 1 else base_cap
                fmt = "png" if rng.random() < 0.5 else "qpng"
                image_id.append(f"img{i:08d}")
                pixels_col.append(px)
                enc = encode_image(px, fmt)
                blob.append(enc)
                fmt_col.append(fmt)
                # phash derives from the STORED bytes (what a real ingest
                # computes), so engine-side recompute-from-bytes matches exactly
                phash_col[i] = phash64(decode_image(enc, fmt))
                caption.append(cap)
                true_cluster[i] = cid
                i += 1
        else:
            # bench tier: whole-cluster vectorized images + batched phash
            noise = rng.normal(0.0, 1.5, size=(size, *base_img.shape))
            px = np.clip(base_img[None] + noise, 0, 255).astype(np.uint8)
            phash_col[i : i + size] = phash64_batch(px)
            for j in range(size):
                image_id.append(f"img{i + j:08d}")
                pixels_col.append(px[j])
                blob.append(b"")
                fmt_col.append("none")
                caption.append(
                    _edit_caption(rng, base_cap) if size > 1 else base_cap
                )
                true_cluster[i + j] = cid
            i += size

    return {
        "image_id": image_id,
        "bytes": blob,
        "w": np.full(n_rows, 32, dtype=np.int32),
        "h": np.full(n_rows, 32, dtype=np.int32),
        "fmt": fmt_col,
        "caption": caption,
        "phash": phash_col.view(np.int64),  # int64 bit pattern for parquet/Spark
        "true_cluster": true_cluster,
        "pixels": pixels_col,
    }


def truth_pairs(true_cluster: np.ndarray, image_id: list[str]) -> set[tuple[str, str]]:
    """All intra-cluster (src, dst) pairs with src < dst — the recall oracle."""
    by_cluster: dict[int, list[str]] = {}
    for img, c in zip(image_id, true_cluster):
        by_cluster.setdefault(int(c), []).append(img)
    pairs: set[tuple[str, str]] = set()
    for members in by_cluster.values():
        members = sorted(members)
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                pairs.add((members[a], members[b]))
    return pairs


def corpus_to_rows(corpus: dict) -> list[tuple]:
    """(image_id, bytes, w, h, fmt, caption, phash) rows for spark.createDataFrame."""
    return list(
        zip(
            corpus["image_id"],
            [bytearray(b) for b in corpus["bytes"]],
            [int(x) for x in corpus["w"]],
            [int(x) for x in corpus["h"]],
            corpus["fmt"],
            corpus["caption"],
            [int(x) for x in corpus["phash"]],
        )
    )


INPUT_SCHEMA_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
