"""Tests for the training-data ops (dedup / similarity / textstats) against
brute-force python oracles on tiny frames."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mhap_spark.ops.dedup import (
    exact_dedup,
    minhash_lsh_doc_pairs,
    simhash_docs,
    simhash_near_dup_pairs,
    simhash_pairs_from_sketches,
    word_jaccard_pairs,
)
from mhap_spark.ops.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_neighbors,
)
from mhap_spark.ops.textstats import fingerprint, lang_id, quality_score, token_stats

DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "a", 44),
        (1, "the quick brown fox jumps over the lazy cat", "en", "a", 44),
        (2, "THE  quick brown fox jumps over the lazy dog", "en", "a", 45),
        (3, "completely different text about spark engines", "en", "a", 46),
        (4, "der schnelle braune fuchs und der faule hund", "de", "b", 44),
        (5, "unrelated musings on distributed computation", "en", "b", 44),
    ]
    return spark.createDataFrame(rows, DOCS_DDL)


def test_exact_dedup(spark, docs):
    got = {r["rep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    # doc 2 normalizes to doc 0's text
    assert got[0] == 2
    assert sum(got.values()) == 6 and len(got) == 5


def test_word_jaccard_pairs(spark, docs):
    got = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in word_jaccard_pairs(
            docs, max_len_delta=10, min_jaccard=0.5
        ).collect()
    }
    assert (0, 2) in got and got[(0, 2)] == pytest.approx(1.0)
    a = set("the quick brown fox jumps over lazy dog".split())
    b = set("the quick brown fox jumps over lazy cat".split())
    assert got[(0, 1)] == pytest.approx(len(a & b) / len(a | b))
    assert (0, 3) not in got


def test_minhash_doc_pairs_finds_near_dups(spark, docs):
    got = {(r["src_doc"], r["dst_doc"]) for r in minhash_lsh_doc_pairs(docs).collect()}
    assert ("0", "2") in got  # normalized-identical
    assert ("0", "1") in got  # one-word edit
    assert ("3", "5") not in got


def test_minhash_dedup_keep_matches_replica(spark, docs):
    """Engine keep-manifest ≡ sequential union-find replica over the
    sequential pair replica, every row covered, keep ⇔ id == cluster min."""
    from mhap_spark import oracle_ops
    from mhap_spark.config import MhapConfig
    from mhap_spark.ops.dedup import minhash_dedup_keep

    cfg = MhapConfig(
        num_hashes=128, rows_per_band=4, num_min_matches=2,
        use_phash_shingles=False, no_broadcast_hints=False,
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in minhash_dedup_keep(docs, cfg=cfg).collect()
    }
    rows = docs.select(F.col("doc_id").cast("string"), "text").collect()
    ids = [r["doc_id"] for r in rows]
    pairs = oracle_ops.minhash_doc_candidates(ids, [r["text"] for r in rows], cfg)
    want = {d: (c, k) for d, c, k in oracle_ops.dedup_keep_rows(ids, pairs)}
    assert got == want
    assert set(got) == set(ids)  # every input row decided
    # 0/1/2 are the planted near-dup cluster: one keeper, min id
    assert got["0"] == ("0", True) and not got["1"][1] and not got["2"][1]


def test_simhash_properties(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs, k=4).collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(sh["0"], sh["2"]) == 0  # same normalized text
    assert ham(sh["0"], sh["1"]) < ham(sh["0"], sh["3"])
    pairs = {
        (r["src"], r["dst"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_hamming=10, k=4).collect()
    }
    assert pairs[("0", "2")] == 0


def test_simhash_blocking_recall_at_radius(spark):
    """Planted pairs at Hamming 4–6 whose differing bits scatter across the
    sketch must ALL be found (pigeonhole over max_hamming+1 disjoint chunks).
    The round-1 4×16-bit blocking missed exactly these (VERDICT.md item 1)."""
    rng = np.random.default_rng(7)
    rows, expected = [], set()
    vid = 0
    for case in range(40):
        base = int(rng.integers(0, 2**63, dtype=np.int64))
        d = 4 + case % 3  # hamming 4, 5, 6
        # adversarial scatter: spread flipped bits across the whole word
        flip_bits = rng.choice(64, size=d, replace=False)
        other = base
        for b in flip_bits:
            other ^= 1 << int(b)
        o = other & 0xFFFFFFFFFFFFFFFF
        # explicit two's-complement: np.int64(np.uint64(x)) wraps on
        # numpy 1.x but raises OverflowError on numpy >= 2.0
        other = o - (1 << 64) if o >= (1 << 63) else o
        a_id, b_id = f"p{vid:04d}a", f"p{vid:04d}b"
        rows.append((a_id, int(np.int64(base))))
        rows.append((b_id, int(other)))
        expected.add((a_id, b_id))
        vid += 1
    sh = spark.createDataFrame(rows, "doc_id string, simhash long")
    got = {
        (r["src"], r["dst"])
        for r in simhash_pairs_from_sketches(sh, max_hamming=6).collect()
    }
    missed = expected - got
    assert not missed, f"blocking dropped true pairs: {sorted(missed)[:5]}"
    for r in simhash_pairs_from_sketches(sh, max_hamming=6).collect():
        assert r["hamming"] <= 6


def test_substring_dup_pairs_winnowing(spark):
    """Planted shared spans ≥ window+k−1 chars must pair (winnowing
    guarantee); unrelated docs must not; fingerprints match a literal
    python winnow oracle."""
    from mhap_spark.hashing import caption_kgram_hashes
    from mhap_spark.ops.dedup import substring_dup_pairs, winnow, winnowed_fingerprints

    k, w = 8, 16  # guarantee threshold: shared span >= 23 chars
    shared = "zq wv xj kq pz vy bw md gx"  # 26-char span, rare letters
    rows = [
        (0, f"left context alpha beta {shared} right context gamma", "en", "a", 0),
        (1, f"totally different opening here {shared} and another tail", "en", "a", 0),
        (2, "no overlap with anything else entirely separate words", "en", "a", 0),
        (3, "fourth row again disjoint content nothing in common", "en", "a", 0),
    ]
    df = spark.createDataFrame(rows, DOCS_DDL)
    pairs = {
        (r["src"], r["dst"]): r["n_shared_fp"]
        for r in substring_dup_pairs(df, k=k, window=w).collect()
    }
    assert ("0", "1") in pairs, f"planted substring pair missed: {pairs}"
    assert ("2", "3") not in pairs

    # fingerprint parity vs a literal oracle (sliding-window min, distinct)
    got_fp = {
        r["doc_id"]: r["fp"]
        for r in winnowed_fingerprints(df, k=k, window=w).groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("fp")).alias("fp")).collect()
    }
    for doc_id, text, *_ in rows:
        h = caption_kgram_hashes(text, k)
        want = sorted(
            int(x) for x in {min(h[i : i + w]) for i in range(max(len(h) - w + 1, 1))}
        ) if len(h) else []
        want = [x - (1 << 64) if x >= (1 << 63) else x for x in want]
        assert got_fp[str(doc_id)] == want


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = cosine_topk(df, n_queries=2, k=5).collect()
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    for q in (0, 1):
        order = sorted(
            (i for i in range(30) if i != q), key=lambda i: (-sims[q, i], i)
        )[:5]
        got_q = sorted(
            ((r["rank"], r["neighbor_id"]) for r in got if r["query_id"] == q)
        )
        assert [n for _, n in got_q] == order
        for r in got:
            if r["query_id"] == q:
                assert r["cos_sim"] == pytest.approx(
                    sims[q, r["neighbor_id"]], abs=1e-5
                )


def test_embedding_near_dup_and_lsh_recall(spark):
    rng = np.random.default_rng(4)
    base = rng.standard_normal((10, 16))
    rows = []
    vid = 0
    for b in range(10):
        for _ in range(3):  # 3 near-identical copies of each base
            v = base[b] + rng.standard_normal(16) * 0.05
            rows.append((vid, [float(x) for x in v], b))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {
        (r["src"], r["dst"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(df, min_cos=0.95, block_col="label").collect()
    }
    assert len(exact) == 30  # 3 per base × C(3,2)=3 × 10 bases
    ann = {
        (r["src"], r["dst"]): r["cos_sim"]
        for r in lsh_bucketed_neighbors(
            df, n_bits=8, n_tables=6, min_cos=0.95
        ).collect()
    }
    recall = len(ann.keys() & exact.keys()) / len(exact)
    assert recall >= 0.9, f"ANN recall {recall}"
    assert ann.keys() <= exact.keys()  # rescore gate means no false accepts
    assert all(ann[p] == exact[p] for p in ann)  # one scorer, same values


def test_similarity_null_and_empty_robustness(spark):
    """IVF must survive null embeddings (drop them) and empty input (typed
    empty frame, like LSH); cosine_topk must refuse non-numeric ids instead
    of silently returning nothing, and accept explicit query_ids."""
    from mhap_spark.ops.similarity import ivf_neighbors

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)], 0) for i in range(6)]
    rows.append((6, None, 0))  # null embedding: must be dropped, not crash
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ivf_neighbors(df, n_centroids=2, n_probe=2, min_cos=-1.0)
    assert not any(
        6 in (r["src"], r["dst"]) for r in out.collect()
    )  # null row absent, job alive

    empty = df.where(F.col("vec_id") < 0)
    assert ivf_neighbors(empty, n_centroids=2).count() == 0  # no ValueError

    sdf = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.1])], "vec_id string, embedding array<float>"
    )
    with pytest.raises(ValueError, match="non-numeric"):
        cosine_topk(sdf, n_queries=1)
    got = cosine_topk(sdf, k=1, query_ids=["a"]).collect()
    assert len(got) == 1 and got[0]["neighbor_id"] == "b"


def test_embedding_dedup_keep_matches_replica(spark):
    """Semantic-dedup keep manifest ≡ sequential blocked-cosine +
    union-find replica; exactly one keeper per planted triple."""
    from mhap_spark import oracle_ops
    from mhap_spark.ops.similarity import embedding_dedup_keep

    rng = np.random.default_rng(4)
    base = rng.standard_normal((10, 16))
    rows, vid = [], 0
    for b in range(10):
        for _ in range(3):
            v = base[b] + rng.standard_normal(16) * 0.05
            rows.append((vid, [float(x) for x in v], b))
            vid += 1
    rows.append((vid, [0.0] * 16, 0))  # zero-norm row: singleton keeper
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        (r["vec_id"], r["cluster_id"], r["keep"])
        for r in embedding_dedup_keep(df, min_cos=0.95, block_col="label").collect()
    }
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([np.asarray(r[1], dtype=np.float32).astype(np.float64) for r in rows])
    want = set(
        oracle_ops.embedding_keep_rows(ids, X, [r[2] for r in rows], min_cos=0.95)
    )
    assert got == want
    keepers = {v for v, _, k in got if k}
    assert keepers == {0, 3, 6, 9, 12, 15, 18, 21, 24, 27, 30}  # min of each triple + zero-norm row


def test_ivf_ann_recall(spark):
    """IVF multi-probe recall vs exact near-dup pairs on clustered vectors;
    rescore gate ⇒ no false accepts."""
    from mhap_spark.ops.similarity import ivf_neighbors

    rng = np.random.default_rng(6)
    base = rng.standard_normal((10, 16))
    rows, vid = [], 0
    for b in range(10):
        for _ in range(3):
            v = base[b] + rng.standard_normal(16) * 0.05
            rows.append((vid, [float(x) for x in v], b))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {
        (r["src"], r["dst"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(df, min_cos=0.95, block_col="label").collect()
    }
    ann = {
        (r["src"], r["dst"]): r["cos_sim"]
        for r in ivf_neighbors(df, n_centroids=8, n_probe=3, min_cos=0.95).collect()
    }
    recall = len(ann.keys() & exact.keys()) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall}"
    assert ann.keys() <= exact.keys()  # exact-cosine rescore gate
    assert all(ann[p] == exact[p] for p in ann)  # one scorer, same values


def test_ivf_deterministic_across_partitionings(spark):
    """Centroid training samples by xxhash64 rank, not partition scan order —
    output must be byte-identical however the input is partitioned
    (round-2 VERDICT fix for the bare ``limit()`` sample)."""
    from mhap_spark.ops.similarity import ivf_neighbors

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(16)], 0) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    outs = []
    for parts in (1, 7, 32):
        got = sorted(
            (r["src"], r["dst"], r["cos_sim"])
            for r in ivf_neighbors(
                df.repartition(parts), n_centroids=8, n_probe=2, min_cos=0.5,
                max_bucket_size=4096,
            ).collect()
        )
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]


def test_lsh_high_dim_kernel(spark):
    """The bucket-code kernel must handle dim=2048 / n_bits=64 — the regime
    where the old F.lit-literal plan (~2M expression nodes) choked analysis
    (round-2 VERDICT fix).  Planted near-dups must still be found."""
    rng = np.random.default_rng(8)
    base = rng.standard_normal((4, 2048))
    rows, vid = [], 0
    for b in range(4):
        for _ in range(2):
            v = base[b] + rng.standard_normal(2048) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["src"], r["dst"])
        for r in lsh_bucketed_neighbors(
            df, n_bits=64, n_tables=4, min_cos=0.95, dim=2048
        ).collect()
    }
    assert got == {(0, 1), (2, 3), (4, 5), (6, 7)}


def test_token_stats(spark, docs):
    got = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert got[0]["n_tokens"] == 9
    assert got[0]["distinct_ratio"] == pytest.approx(8 / 9, abs=1e-6)
    toks = "the quick brown fox jumps over the lazy dog".split()
    assert got[0]["avg_token_len"] == pytest.approx(
        sum(map(len, toks)) / len(toks), abs=1e-6
    )


def test_textstats_null_and_empty_text(spark):
    """Null/empty/whitespace-only text: 0 tokens (not size(null) = −1 or
    split('') = ['']), NULL ratios, quality scored 0.0 (not NULL)."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text here")],
        "doc_id long, text string",
    )
    ts = {r["doc_id"]: r for r in token_stats(df).collect()}
    for d in (1, 2, 3):
        assert ts[d]["n_tokens"] == 0
        assert ts[d]["distinct_ratio"] is None
        assert ts[d]["avg_token_len"] is None
    assert ts[1]["n_chars_seen"] == 0
    assert ts[4]["n_tokens"] == 3
    qs = {r["doc_id"]: r for r in quality_score(df).collect()}
    for d in (1, 2):
        assert qs[d]["quality"] == 0.0
        assert qs[d]["punct_ratio"] == 0.0
        assert qs[d]["stopword_ratio"] == 0.0
    assert qs[4]["quality"] is not None and qs[4]["quality"] > 0


def test_quality_score_ranges(spark, docs):
    got = quality_score(docs).collect()
    for r in got:
        assert 0.0 <= r["quality"] <= 1.0
    by_id = {r["doc_id"]: r["quality"] for r in got}
    assert by_id[0] > by_id[4]  # english stopwords present vs german text


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert got[0] == "en"
    assert got[4] == "de"


def test_fingerprint_deterministic_and_content_sensitive(spark, docs):
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs, k=4).collect()}
    assert got[0] != got[1] and got[0] != got[3]
    # determinism: recomputing the same docs yields identical fingerprints
    again = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs, k=4).collect()}
    assert got == again
    # single-character sensitivity: one edit must change the xor of k-grams
    one_edit = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dot", "en", "a", 44)],
        docs.schema,
    )
    assert fingerprint(one_edit, k=4).collect()[0]["fingerprint"] != got[0]


def test_simhash_negative_votes_signed(spark):
    """A bit whose vote count is NEGATIVE must stay 0 — the uint64 vote
    arithmetic used to wrap (2*sum(bits) − n in uint64), setting every
    non-tied bit and collapsing Hamming distances between unrelated docs
    (the oracle replicated the wrap, so parity alone never caught it)."""
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "zzzz qqqq kkkk wwww vvvv xxxx jjjj ffff gggg"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sh = {r["doc_id"]: r["simhash"] for r in simhash_docs(df, k=4).collect()}
    ham = bin((sh["a"] ^ sh["b"]) & 0xFFFFFFFFFFFFFFFF).count("1")
    # wrapped math measured Hamming ~10 on unrelated text (near-all-ones
    # hashes); correct signed votes keep them far apart
    assert ham > 16, ham
    # and neither hash is the all-ones degenerate value
    assert sh["a"] != -1 and sh["b"] != -1
    # parity with the sequential oracle replica
    from mhap_spark.oracle_ops import simhash64

    assert sh["a"] == simhash64(rows[0][1], k=4)
    assert sh["b"] == simhash64(rows[1][1], k=4)


def test_word_jaccard_blocks_on_normalized_length(spark):
    """Whitespace drift must not block a normalized-identical pair: the
    length gate measures the normalized text (the form jaccard is computed
    over), so 'alpha beta gamma' pairs with its whitespace-padded twin even
    when the RAW lengths differ by more than max_len_delta."""
    rows = [
        ("1", "alpha beta gamma", "s"),
        ("2", "  alpha   beta      gamma      ", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    got = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in word_jaccard_pairs(df, max_len_delta=10, min_jaccard=0.5).collect()
    }
    assert got[("1", "2")] == 1.0


def test_ann_and_textstats_accept_string_ids(spark):
    """ivf_neighbors / lang_id / fingerprint take id_col parameters — their
    kernel schemas must follow the input id type (string image_ids), same
    round-3 rule as lsh_bucketed_neighbors."""
    import numpy as np

    from mhap_spark.ops.similarity import ivf_neighbors, lsh_bucketed_neighbors
    from mhap_spark.ops.textstats import fingerprint, lang_id

    rng = np.random.default_rng(3)
    base = rng.standard_normal(8)
    rows = [
        (f"img{i:03d}", (base + 0.01 * rng.standard_normal(8)).tolist())
        for i in range(6)
    ]
    vdf = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = ivf_neighbors(vdf, n_centroids=2, min_cos=0.9, id_col="vec_id").collect()
    assert got and all(isinstance(r["src"], str) for r in got)
    got2 = lsh_bucketed_neighbors(vdf, n_bits=4, min_cos=0.9, id_col="vec_id").collect()
    assert all(isinstance(r["src"], str) for r in got2)

    tdf = spark.createDataFrame(
        [("imgA", "the cat sat on the mat"), ("imgB", "der hund und die katze")],
        "image_id string, text string",
    )
    lang = lang_id(tdf, id_col="image_id").collect()
    assert {r["doc_id"] for r in lang} == {"imgA", "imgB"}
    fp = fingerprint(tdf, id_col="image_id").collect()
    assert {r["doc_id"] for r in fp} == {"imgA", "imgB"}


def test_normalized_text_matches_duckdb_norm_replica(spark):
    """The engine's canonical text form (dedup.normalized_text: lower →
    collapse \\s+ → trim) and the contract oracles' DuckDB ``_NORM``
    expression must agree byte-for-byte — INCLUDING edge tabs/newlines,
    where trim-before-collapse would leave a residual edge space the
    engine never produces (post-review pin; the corpus itself has no
    edge whitespace, so only a direct pin catches drift here)."""
    import duckdb

    import __spark_entry__ as entry
    from mhap_spark.ops.dedup import normalized_text

    texts = [
        "hello\tworld\n",
        "\t leading tab",
        "trailing newline\n\n",
        "\x0bvertical\x0btab\x0b",
        "  double  spaces  ",
        "mixed \t\n\x0c\r all",
        "",
        " \t\n ",
        "UPPER Case",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    engine = [
        r["n"] for r in df.select(normalized_text(F.col("text")).alias("n")).collect()
    ]
    oracle = [
        duckdb.sql(f"SELECT {entry._NORM} FROM (SELECT ? AS text)", params=[t]).fetchone()[0]
        for t in texts
    ]
    assert engine == oracle


def test_minhash_doc_pairs_phash_cfg_no_manufactured_overlap(spark, docs):
    """Documents have no phash, so a caller-passed cfg that leaves
    use_phash_shingles=True (the MhapConfig default) must see NULL phash —
    the pre-round-5 F.lit(0) placeholder counted as a REAL shared phash,
    handing every document the same bit-n-gram shingles (manufactured
    overlap between unrelated texts)."""
    from mhap_spark.config import MhapConfig

    cfg = MhapConfig(num_hashes=128, rows_per_band=1, num_min_matches=1)
    assert cfg.use_phash_shingles  # the hazard config: phash shingles on
    got = {
        (r["src_doc"], r["dst_doc"])
        for r in minhash_lsh_doc_pairs(docs, cfg=cfg).collect()
    }
    assert ("0", "2") in got  # real near-dups still found
    # unrelated docs must not pair even at the loosest vote gate: with the
    # lit(0) placeholder they shared every phash shingle and always collided
    for bad in (("3", "5"), ("5", "3"), ("3", "4"), ("4", "5")):
        assert bad not in got


def test_block_cos_kernel_bit_exact(spark):
    """The round-6 vectorized block-cosine kernel must be BIT-identical to
    the interpreted JVM fold it replaced: same left-to-right float64
    multiply-add chain, same norm product, same >= gate.  Compares every
    surviving pair's raw float64 bits between the new embedding_near_dup
    path and the original zip_with/aggregate expression on a seeded corpus
    whose cos values densely straddle the gate."""
    from pyspark.sql import functions as F

    from mhap_spark.ops.similarity import _dot, with_unit_vectors

    rng = np.random.default_rng(7)
    n, d = 300, 23  # odd dim: exercises non-multiple-of-SIMD folds
    base = rng.standard_normal((4, d))
    X = base[rng.integers(0, 4, n)] + 0.6 * rng.standard_normal((n, d))
    rows = [(i, int(i % 3), [float(x) for x in X[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    new = {
        (r["src"], r["dst"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(
            df, min_cos=0.5, block_col="label"
        ).collect()
    }

    # reference: the pre-round-6 expression shape (sizes-join + self-join +
    # interpreted fold), raw values rounded the same way
    b = with_unit_vectors(df, "embedding").select(
        F.col("vec_id").alias("id"), F.col("label").alias("blk"), "vec", "norm"
    )
    l, r = b.alias("l"), b.alias("r")
    old = {
        (row["src"], row["dst"]): row["cos_sim"]
        for row in (
            l.join(r, on=[F.col("l.blk") == F.col("r.blk"), F.col("l.id") < F.col("r.id")])
            .select(
                F.col("l.id").alias("src"),
                F.col("r.id").alias("dst"),
                (_dot(F.col("l.vec"), F.col("r.vec")) / (F.col("l.norm") * F.col("r.norm"))).alias("raw"),
            )
            .where(F.col("raw") >= 0.5)
            .select("src", "dst", F.round("raw", 6).alias("cos_sim"))
            .collect()
        )
    }
    assert new.keys() == old.keys()
    for k in old:
        assert new[k] == old[k], (k, new[k], old[k])

    # a block holding a duplicated id emits no self-pair (the join above
    # requires l.id < r.id); each copy still pairs with the other ids
    from mhap_spark.ops.similarity import _block_cos_pairs_pdf

    v = [1.0, 0.0]
    dup = _block_cos_pairs_pdf(
        pd.DataFrame({"id": [7, 5, 5], "vec": [v, v, v], "norm": [1.0] * 3}), 0.5
    )
    assert not (dup["src"] == dup["dst"]).any()
    assert sorted(zip(dup["src"], dup["dst"])) == [(5, 7), (5, 7)]
