"""One-bit MinHash sketch (mhap/sketch/MinHashBitSketch.java:31-92 analog):
the packed ``bitsig`` column the ``mhap_signatures`` contract hashes, plus the
min-length load filter."""

import numpy as np

from mhap_spark.config import MhapConfig
from mhap_spark.minhash import compute_signatures, pack_bitsig


def test_pack_bitsig_layout():
    sig = np.array([[0, 1, 2, 3] * 32, [1, 0, 1, 0] * 32], dtype=np.int32)  # 128 slots
    packed = pack_bitsig(sig)
    assert packed.shape == (2, 2)
    # row 0 LSBs: 0,1,0,1 repeating → bits 1,3,5,... set (little-endian packing)
    got0 = int(packed[0, 0]) & 0xFFFFFFFFFFFFFFFF
    want0 = sum(1 << b for b in range(1, 64, 2))
    assert got0 == want0
    # row 1 LSBs: 1,0,1,0 → even bits set
    got1 = int(packed[1, 0]) & 0xFFFFFFFFFFFFFFFF
    assert got1 == sum(1 << b for b in range(0, 64, 2))


def test_bitsig_hamming_tracks_jaccard():
    """Expected packed-bit Hamming ≈ num_hashes·(1−J)/2: the one-bit sketch
    estimates slot agreement."""
    rng = np.random.default_rng(11)
    n = 4096
    for j in (0.0, 0.5, 0.9):
        a = rng.integers(0, 2**31, size=(1, n), dtype=np.int32)
        agree = rng.random(n) < j
        b = np.where(agree, a[0], rng.integers(0, 2**31, size=n, dtype=np.int32))
        pa, pb = pack_bitsig(a), pack_bitsig(b[None, :])
        ham = bin(int.from_bytes((pa ^ pb).tobytes(), "little")).count("1")
        expect = n * (1 - j) / 2
        assert abs(ham - expect) < 5 * np.sqrt(n) / 2, (j, ham, expect)


def test_min_shingles_load_filter(spark):
    """Explicit min-length load filter (MhapMain min-store-length analog):
    rows below the distinct-shingle floor are dropped at sketch time."""
    from mhap_spark.synth import INPUT_SCHEMA_DDL

    rows = [
        ("long01", b"", 8, 8, "png", "a reasonably long caption with plenty of text", 0),
        ("tiny01", b"", 8, 8, "png", "tiny", 0),  # < k chars -> 0 shingles
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
    base = MhapConfig(num_hashes=64, use_phash_shingles=False)
    all_rows = {r["image_id"] for r in compute_signatures(df, base, None).collect()}
    assert all_rows == {"long01", "tiny01"}
    filt = base.with_overrides(min_shingles=5)
    kept = {r["image_id"] for r in compute_signatures(df, filt, None).collect()}
    assert kept == {"long01"}
