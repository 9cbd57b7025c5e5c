"""Engine ⇄ oracle parity: the Spark kernels must reproduce the single-node
reference implementation bit-for-bit (signatures) and set-for-set (pairs,
clusters) at identical configs — SURVEY.md §5.2 kernel/candidate/stage-2 rows."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mhap_spark import oracle
from mhap_spark.config import MhapConfig
from mhap_spark.freq import FreqTable
from mhap_spark.minhash import band_hashes, compute_signatures
from mhap_spark.candidates import candidate_pairs
from mhap_spark.verify import jaccard_to_identity_col, verified_pairs
from mhap_spark.cluster import connected_components
from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

CFG = MhapConfig(num_hashes=128)  # small sketch → fast unit tier
N_ROWS = 200


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_ROWS, seed=42)


@pytest.fixture(scope="module")
def input_df(spark, corpus):
    return spark.createDataFrame(corpus_to_rows(corpus), INPUT_SCHEMA_DDL).repartition(4)


@pytest.fixture(scope="module")
def oracle_state(corpus):
    cfg = CFG
    shingle_sets = [
        oracle.row_shingles(c, int(p), cfg)
        for c, p in zip(corpus["caption"], corpus["phash"])
    ]
    freq = oracle.FreqFilter(oracle.df_ratio_table(shingle_sets), cfg)
    sigs = [oracle.weighted_minhash(sh, cfg, freq) for sh in shingle_sets]
    bottoms = [oracle.bottom_k(sh, cfg.ordered_sketch_size) for sh in shingle_sets]
    return shingle_sets, freq, sigs, bottoms


@pytest.fixture(scope="module")
def engine_sigs(spark, input_df):
    freq = FreqTable.compute(input_df, CFG)
    df = compute_signatures(input_df, CFG, freq)
    pdf = df.toPandas().set_index("image_id").sort_index()
    return df, pdf


def test_freq_table_matches_oracle(spark, input_df, oracle_state):
    shingle_sets, freq_o, _, _ = oracle_state
    t = FreqTable.compute(input_df, CFG)
    engine = dict(zip((int(k) for k in t.keys), t.ratios))
    assert engine.keys() == freq_o.map.keys()
    for k, v in freq_o.map.items():
        assert engine[k] == pytest.approx(v, abs=1e-12)
    # scaled idf agrees on hits and misses
    probe = np.array(list(freq_o.map.keys())[:50] + [123456789], dtype=np.uint64)
    got = t.scaled_idf(probe)
    want = np.array([freq_o.scaled_idf(int(k)) for k in probe])
    assert np.allclose(got, want, atol=1e-12)


def _oracle_bands(sig: np.ndarray, cfg: MhapConfig) -> np.ndarray:
    """Bands of a full-width oracle signature, sliced to the slots the
    engine steps (``band_count() * rows_per_band``)."""
    n_slots = cfg.band_count() * cfg.rows_per_band
    return band_hashes(
        np.asarray(sig[:n_slots], dtype=np.int32).reshape(1, -1), cfg.rows_per_band
    )[0]


def test_signatures_match_oracle_bitexact(corpus, oracle_state, engine_sigs):
    """The signature table is exactly (image_id, n_shingles, bottomk, bands).
    With one slot per band and all bands kept, band_hashes maps each slot
    value injectively, so equal bands means every oracle slot is equal."""
    _, _, sigs_o, bottoms_o = oracle_state
    sig_df, pdf = engine_sigs
    assert sig_df.columns == ["image_id", "n_shingles", "bottomk", "bands"]
    assert CFG.rows_per_band == 1 and CFG.band_count() == CFG.num_hashes
    assert len(pdf) == N_ROWS
    for i, img in enumerate(corpus["image_id"]):
        row = pdf.loc[img]
        got_bands = np.asarray(row["bands"], dtype=np.int64)
        assert np.array_equal(got_bands, _oracle_bands(sigs_o[i], CFG)), img
        got_bk = np.asarray(row["bottomk"], dtype=np.int64).view(np.uint64)
        assert np.array_equal(got_bk, bottoms_o[i]), img


def test_candidates_match_oracle(spark, corpus, oracle_state, engine_sigs):
    _, _, sigs_o, bottoms_o = oracle_state
    sig_df, _ = engine_sigs
    got = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sig_df, CFG).collect()
    }
    want_rows = oracle.find_pairs(
        corpus["image_id"], sigs_o, bottoms_o, CFG.with_overrides(threshold=-1.0, min_jaccard=-1.0)
    )
    want = {(a, b): v for a, b, v, *_ in want_rows}
    assert got == want


@pytest.mark.parametrize("cap", [512, 4])
def test_pairs_mode_funnel_is_exact(spark, engine_sigs, cap):
    """The pairs-mode funnel Observation rides the single window plan: hub
    rows (image_id == minimum stored id) carry the per-bucket sums, so every
    metric equals the one-row-per-bucket aggregate over ``bucket_sizes`` of
    the stored rows' bands — with and without over-cap buckets, with and
    without the store filter — and requesting it leaves the pairs
    unchanged."""
    from pyspark.sql import Observation

    from mhap_spark.candidates import _funnel_exprs, bucket_sizes, exploded_bands

    sig_df, pdf = engine_sigs
    for store in (0, int(pdf["n_shingles"].median())):
        cfg = CFG.with_overrides(max_bucket_size=cap, min_store_shingles=store)
        obs = Observation()
        with_obs = {
            tuple(r) for r in candidate_pairs(sig_df, cfg, funnel_obs=obs).collect()
        }
        funnel = dict(obs.get)
        stored = sig_df.where(F.col("n_shingles") >= F.lit(store))
        want = (
            bucket_sizes(exploded_bands(stored)).agg(*_funnel_exprs(cfg)).first().asDict()
        )
        assert funnel == want, store
        assert want["candidate_pairs_generated"] > 0
        if cap < CFG.max_bucket_size:
            assert want["n_buckets_capped"] > 0, "fixture must produce over-cap buckets"
        assert with_obs == {tuple(r) for r in candidate_pairs(sig_df, cfg).collect()}


def _plan_nodes(df) -> dict:
    """Operator counts of ``df``'s physical plan (before execution)."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().executedPlan().toString()
    seen = Counter()
    for line in plan.splitlines():
        m = re.match(r"^[\s:+\-|*()\d]*(\w+)", line)
        if not m:
            continue
        name = m.group(1)
        if name == "Exchange" and "hashpartitioning" in line:
            name = "HashExchange"
        seen["Join" if name.endswith("Join") else name] += 1
    kinds = ("MapInPandas", "FlatMapGroupsInPandas", "Window", "HashExchange", "Join")
    return {k: seen[k] for k in kinds}


def test_capped_bucket_plans(spark, input_df):
    """Every capped-bucket pair generator plans as ONE kernel pass, one
    window over the bucket key, two hash exchanges (the bucket key, then
    the pair aggregate) and no join — the store filter included, whose
    former two-table probe join ran the sketch kernel three times over an
    unpersisted source, and which collects its stored members in the same
    aggregate instead of filtering the member list.  Star mode keeps its
    two windows (bucket, then salted sub-bucket) on the same two
    exchanges.  The embedding pair paths share one capped-block scorer: a
    window over the block key and one grouped cosine kernel, behind one
    keying kernel for the two ANN paths, whose multi-probe dedup is their
    second exchange."""
    from mhap_spark.config import PRESET_SCALE
    from mhap_spark.ops.dedup import (
        minhash_lsh_doc_pairs,
        simhash_near_dup_pairs,
        substring_dup_pairs,
    )
    from mhap_spark.ops.similarity import (
        embedding_near_dup_pairs,
        ivf_neighbors,
        lsh_bucketed_neighbors,
    )

    sigs = compute_signatures(input_df, CFG, None)  # unpersisted source
    docs = input_df.select(
        F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
    )
    one_pass = {
        "MapInPandas": 1, "FlatMapGroupsInPandas": 0, "Window": 1,
        "HashExchange": 2, "Join": 0,
    }
    plans = {
        "pairs": candidate_pairs(sigs, CFG),
        "pairs_store": candidate_pairs(sigs, CFG.with_overrides(min_store_shingles=50)),
        "minhash_lsh_doc_pairs": minhash_lsh_doc_pairs(docs),
        "substring_dup_pairs": substring_dup_pairs(docs),
        "simhash_near_dup_pairs": simhash_near_dup_pairs(docs),
    }
    for name, df in plans.items():
        assert _plan_nodes(df) == one_pass, name
    # the stored members are collected beside the members, not filtered
    # out of them by a lambda over the list
    store_plan = plans["pairs_store"]._jdf.queryExecution().executedPlan().toString()
    assert "filter(" not in store_plan and "lambda" not in store_plan
    star = candidate_pairs(compute_signatures(input_df, PRESET_SCALE, None), PRESET_SCALE)
    assert _plan_nodes(star) == {
        "MapInPandas": 1, "FlatMapGroupsInPandas": 0, "Window": 2,
        "HashExchange": 2, "Join": 0,
    }
    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)], i % 3) for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    assert _plan_nodes(embedding_near_dup_pairs(vecs, min_cos=0.5)) == {
        "MapInPandas": 0, "FlatMapGroupsInPandas": 1, "Window": 1,
        "HashExchange": 1, "Join": 0,
    }
    keyed = {
        "MapInPandas": 1, "FlatMapGroupsInPandas": 1, "Window": 1,
        "HashExchange": 2, "Join": 0,
    }
    ann = {
        "ivf_neighbors": ivf_neighbors(vecs, n_centroids=4, min_cos=0.5),
        "lsh_bucketed_neighbors": lsh_bucketed_neighbors(
            vecs, n_bits=4, min_cos=0.5, dim=8
        ),
    }
    for name, df in ann.items():
        assert _plan_nodes(df) == keyed, name


def test_verified_pairs_match_oracle(spark, corpus, oracle_state, engine_sigs):
    _, _, sigs_o, bottoms_o = oracle_state
    sig_df, _ = engine_sigs
    cands = candidate_pairs(sig_df, CFG)
    got = {
        (r["src"], r["dst"]): (r["votes"], r["jaccard"], r["score"])
        for r in verified_pairs(cands, sig_df, CFG).collect()
    }
    want = {
        (a, b): (v, j, s)
        for a, b, v, j, s in oracle.find_pairs(
            corpus["image_id"], sigs_o, bottoms_o, CFG
        )
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-12)
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-9)


def test_connected_components_matches_union_find(spark):
    rng = np.random.default_rng(5)
    nodes = [f"n{i:04d}" for i in range(300)]
    edges = set()
    while len(edges) < 250:
        a, b = rng.integers(0, 300, 2)
        if a != b:
            edges.add((nodes[min(a, b)], nodes[max(a, b)]))
    pairs_df = spark.createDataFrame(sorted(edges), "src string, dst string")
    verts_df = spark.createDataFrame([(n,) for n in nodes], "image_id string")
    got = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(pairs_df, verts_df).collect()
    }
    want = oracle.connected_components(nodes, sorted(edges))
    assert got == want


def test_cc_driver_finish_equivalent(spark):
    """The driver union-find finish (cluster.py driver_finish_edges) must
    produce exactly the distributed fixpoint's clustering — pre-loop escape
    (cutoff above the edge count) and the default loop compared on the same
    random graph + a star-heavy graph (the dup-cluster shape)."""
    rng = np.random.default_rng(7)
    nodes = [f"n{i:04d}" for i in range(400)]
    edges = set()
    while len(edges) < 300:
        a, b = rng.integers(0, 400, 2)
        if a != b:
            edges.add((nodes[min(a, b)], nodes[max(a, b)]))
    for m in range(1, 60):  # star component (hub n0300): the dup-cluster shape
        edges.add((nodes[300], nodes[300 + m]))
    pairs_df = spark.createDataFrame(sorted(edges), "src string, dst string")
    verts_df = spark.createDataFrame([(n,) for n in nodes], "image_id string")
    loop = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(
            pairs_df, verts_df, driver_finish_edges=0
        ).collect()
    }
    finish = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(
            pairs_df, verts_df, driver_finish_edges=10_000
        ).collect()
    }
    assert loop == finish
    # mid-loop escape: cutoff below the initial edge count but above the
    # post-round residual, so the switch happens INSIDE the loop
    mid = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(
            pairs_df, verts_df, driver_finish_edges=len(edges) - 1
        ).collect()
    }
    assert mid == loop


def test_null_phash_rows_are_caption_only_and_batch_safe(spark):
    """A NULL phash must contribute ZERO phash shingles (caption-only row) —
    the default Arrow→pandas path would cast NaN to INT64_MIN, giving every
    null-phash row identical phash shingles (spurious clustering) AND
    corrupting non-null hashes above 2^53 in the same batch via the float64
    round-trip.  shingle_input resolves nulls JVM-side."""
    from mhap_spark.shingles import shingles_df

    cfg = MhapConfig(num_hashes=64)
    big_hash = (1 << 62) + 12345  # above 2^53: float64 round-trip would corrupt
    rows = [
        ("keep", None, 0, 0, "raw", "a sunny beach with palm trees", big_hash),
        ("null_a", None, 0, 0, "raw", "a red bicycle leaning on a wall", None),
        ("null_b", None, 0, 0, "raw", "snowy mountain peaks at dawn today", None),
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
    got = {r["image_id"]: r for r in shingles_df(df, cfg).collect()}

    # null-phash rows: shingles == caption-only shingles (no phash n-grams,
    # and in particular NOT the INT64_MIN n-gram set both would share)
    cap_only = cfg.with_overrides(use_phash_shingles=False)
    cap = {r["image_id"]: r for r in shingles_df(df, cap_only).collect()}
    for rid in ("null_a", "null_b"):
        assert got[rid]["shingles"] == cap[rid]["shingles"]
    assert not set(got["null_a"]["shingles"]) & set(got["null_b"]["shingles"])

    # the non-null row in the same Arrow batch keeps bit-exact shingles
    solo = spark.createDataFrame([rows[0]], INPUT_SCHEMA_DDL)
    want = shingles_df(solo, cfg).collect()[0]["shingles"]
    assert got["keep"]["shingles"] == want

    # end-to-end: the two unrelated null-phash rows must not become a pair
    sigs = compute_signatures(df, cfg, freq=None)
    pairs = {
        (r["src"], r["dst"])
        for r in candidate_pairs(sigs, cfg).select("src", "dst").collect()
    }
    assert ("null_a", "null_b") not in pairs and ("null_b", "null_a") not in pairs


def test_cc_driver_finish_integer_ids(spark):
    """The CC API is id-type-agnostic everywhere else; the driver-finish
    path must not assume string ids (it is the DEFAULT regime at
    cc_driver_finish_edges=8M, so integer-id graphs hit it immediately)."""
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2)]
    pairs_df = spark.createDataFrame(edges, "src long, dst long")
    verts_df = spark.createDataFrame(
        [(i,) for i in range(42)], "image_id long"
    )
    finish = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(
            pairs_df, verts_df, driver_finish_edges=10_000
        ).collect()
    }
    loop = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(
            pairs_df, verts_df, driver_finish_edges=0
        ).collect()
    }
    assert finish == loop
    assert finish[3] == 0  # 0-1-2-3 merged via the (1,2) bridge, min id 0


def test_freq_edge_configs_no_crash(spark, input_df):
    """idf_scale=1.0 (flat idf span) and filter_cutoff=0.0 (retain all)
    are legal configs: idf_scale=1 means every hit weighs 1.0 (not a
    division by idf_scale−1 = 0), cutoff=0 anchors the idf span at the
    rarest observed ratio (not log(x/0)).  Engine and oracle mirror both
    guards, so signatures stay bit-exact."""
    from mhap_spark.minhash import compute_signatures as _sigs

    for over in ({"idf_scale": 1.0}, {"filter_cutoff": 0.0}):
        cfg = MhapConfig(num_hashes=32, **over)
        freq = FreqTable.compute(input_df, cfg)
        out = _sigs(input_df, cfg, freq)
        assert out.where(F.size("bands") == cfg.band_count()).count() == out.count()


def test_min_shingles_load_filter(spark):
    """Explicit min-length load filter (MhapMain min-store-length analog):
    rows below the distinct-shingle floor are dropped at sketch time."""
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


@pytest.mark.parametrize(
    "over",
    [
        {"rows_per_band": 2},                      # 64 true LSH bands
        {"rows_per_band": 4, "num_min_matches": 4},  # 32 bands, gate ceil(4/4)=1
        {"rows_per_band": 2, "num_hashes": 40},    # 20 bands over the first 40 slots
    ],
)
def test_lsh_banding_r_gt_1_matches_oracle(spark, corpus, input_df, oracle_state, over):
    """True LSH banding (rows_per_band > 1, previously untested): the engine
    folds r consecutive slots into one fmix64-chained band key
    (minhash.band_hashes); the oracle buckets on the exact r-slot tuple.
    Candidate sets, votes, and verified pairs must agree — including when
    the engine steps fewer slots than the module oracle.  A narrower sketch
    is a slot prefix of a wider one, so the module oracle state is reused."""
    cfg = CFG.with_overrides(**over)
    _, _, sigs_o, bottoms_o = oracle_state
    freq = FreqTable.compute(input_df, cfg)
    sig_df = compute_signatures(input_df, cfg, freq)

    got = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sig_df, cfg).collect()
    }
    # candidate stage has no jaccard/score gate — disable both oracle gates
    want = {
        (a, b): v
        for a, b, v, *_ in oracle.find_pairs(
            corpus["image_id"], sigs_o, bottoms_o,
            cfg.with_overrides(threshold=-1.0, min_jaccard=-1.0),
        )
    }
    assert got == want and len(got) > 0

    got_v = {
        (r["src"], r["dst"]): (r["votes"], r["jaccard"])
        for r in verified_pairs(candidate_pairs(sig_df, cfg), sig_df, cfg).collect()
    }
    want_v = {
        (a, b): (v, j)
        for a, b, v, j, _ in oracle.find_pairs(
            corpus["image_id"], sigs_o, bottoms_o, cfg
        )
    }
    assert got_v.keys() == want_v.keys()
    for k in want_v:
        assert got_v[k][0] == want_v[k][0]
        assert got_v[k][1] == pytest.approx(want_v[k][1], abs=1e-12)


def test_trailing_empty_rows_batch_boundary(spark):
    """An Arrow batch ENDING in zero-shingle rows must not corrupt the last
    non-empty row's signature: the pre-round-5 reduceat-start clamp truncated
    that row's segment, dropping its final distinct key from every per-slot
    min (wrong slots → wrong band hashes → missed/spurious candidates,
    dependent on which rows sat at an Arrow batch boundary)."""
    from mhap_spark.minhash import batch_minhash

    # kernel level: rows followed by trailing/middle empty rows keep
    # bit-exact signatures, empty rows get zeros
    rng = np.random.default_rng(7)
    keys = rng.integers(1, 2**63, size=5, dtype=np.uint64)
    rows = np.array([0, 0, 0, 1, 1])
    for w in (np.ones(5, dtype=np.int64), np.array([3, 1, 2, 1, 2], dtype=np.int64)):
        alone = batch_minhash(rows, keys, w, np.array([0, 3, 5]), 64)
        trail = batch_minhash(rows, keys, w, np.array([0, 3, 5, 5, 5]), 64)
        assert (trail[:2] == alone).all() and (trail[2:] == 0).all()
        mid = batch_minhash(
            np.array([0, 0, 0, 2, 2]), keys, w, np.array([0, 3, 3, 5]), 64
        )
        assert (mid[[0, 2]] == alone).all() and (mid[1] == 0).all()

    # end to end: zero-shingle rows (empty caption + null phash) at the tail
    # of a single-partition batch; non-degenerate rows must stay bit-exact
    # with the per-row oracle, degenerate rows get the bands of the zeroed
    # signature
    cfg = MhapConfig(num_hashes=64)
    rows_in = [
        ("a", None, 0, 0, "raw", "a sunny beach with palm trees", 12345),
        ("b", None, 0, 0, "raw", "snowy mountain peaks at dawn today", None),
        ("empty1", None, 0, 0, "raw", "", None),
        ("empty2", None, 0, 0, "raw", "", None),
    ]
    df = spark.createDataFrame(rows_in, INPUT_SCHEMA_DDL).coalesce(1)
    got = compute_signatures(df, cfg, freq=None).toPandas().set_index("image_id")
    cap_only = cfg.with_overrides(use_phash_shingles=False)
    want_a = oracle.weighted_minhash(oracle.row_shingles(rows_in[0][5], 12345, cfg), cfg, None)
    want_b = oracle.weighted_minhash(oracle.row_shingles(rows_in[1][5], 0, cap_only), cfg, None)
    assert np.array_equal(np.array(got.loc["a", "bands"]), _oracle_bands(want_a, cfg))
    assert np.array_equal(np.array(got.loc["b", "bands"]), _oracle_bands(want_b, cfg))
    zero_bands = _oracle_bands(np.zeros(cfg.num_hashes, dtype=np.int32), cfg)
    for rid in ("empty1", "empty2"):
        assert got.loc[rid, "n_shingles"] == 0
        assert np.array_equal(np.array(got.loc[rid, "bands"]), zero_bands)
    # the oracle mirrors the zeroed degenerate signature (no raise)
    assert not oracle.weighted_minhash(np.empty(0, dtype=np.uint64), cfg, None).any()


def test_row_blocked_minhash_identical():
    """The L2-blocked batch_minhash must be bit-identical to the unblocked
    kernel on the same flat arrays — rows are independent, so blocking by
    rows may not change a single slot.  Covers: multi-block splits, a row
    bigger than the block target on its own, empty rows at block edges,
    and both the weight-1 fast path and the weighted prefix path."""
    import mhap_spark.minhash as mh

    rng = np.random.default_rng(11)
    n_rows = 400
    counts = rng.integers(0, 60, size=n_rows)
    counts[7] = 3000  # one row alone larger than the forced block target
    counts[[0, 1, 150, 398, 399]] = 0  # empty rows incl. both edges
    row_starts = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=row_starts[1:])
    n_keys = int(row_starts[-1])
    keys = rng.integers(1, 2**63, size=n_keys, dtype=np.uint64)
    rows = np.repeat(np.arange(n_rows), counts)
    for w in (
        np.ones(n_keys, dtype=np.int64),
        rng.integers(1, 4, size=n_keys, dtype=np.int64),
    ):
        want = mh._minhash_block(rows, keys, w, row_starts, 32)
        got = mh.batch_minhash(rows, keys, w, row_starts, 32)
        assert np.array_equal(got, want)
        old = mh._BLOCK_KEYS_BASE
        mh._BLOCK_KEYS_BASE = 512  # force many tiny blocks + the giant row
        try:
            forced = mh.batch_minhash(rows, keys, w, row_starts, 32)
        finally:
            mh._BLOCK_KEYS_BASE = old
        assert np.array_equal(forced, want)


@pytest.mark.parametrize("shared_vocab", [False, True])
def test_minhash_slot_prefix_property(shared_vocab):
    """A narrower sketch is the column prefix of a wider one: each
    shingle's xorshift stream never resets between slots, so slot i depends
    only on slots < i.  compute_signatures relies on this to step only the
    slots its bands fold.  Covers the weight-1 and weighted paths, the
    row-blocked path (forced tiny blocks) and, with a shared vocabulary,
    the (key, weight) stream-dedup gather path."""
    import mhap_spark.minhash as mh

    rng = np.random.default_rng(5)
    n_rows = 150
    counts = rng.integers(0, 40, size=n_rows)
    counts[[0, 75, 149]] = 0
    row_starts = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=row_starts[1:])
    n_keys = int(row_starts[-1])
    if shared_vocab:
        vocab = rng.integers(1, 2**63, size=60, dtype=np.uint64)
        keys = np.concatenate(
            [np.sort(rng.choice(vocab, size=c, replace=False)) for c in counts]
        )
    else:
        keys = rng.integers(1, 2**63, size=n_keys, dtype=np.uint64)
    rows = np.repeat(np.arange(n_rows), counts)
    for w in (
        np.ones(n_keys, dtype=np.int64),
        rng.integers(1, 5, size=n_keys, dtype=np.int64),
    ):
        for block_base in (mh._BLOCK_KEYS_BASE, 256):
            old = mh._BLOCK_KEYS_BASE
            mh._BLOCK_KEYS_BASE = block_base
            try:
                wide = mh.batch_minhash(rows, keys, w, row_starts, 64)
                narrow = mh.batch_minhash(rows, keys, w, row_starts, 32)
            finally:
                mh._BLOCK_KEYS_BASE = old
            assert narrow.shape == (n_rows, 32)
            assert np.array_equal(narrow, wide[:, :32])


@pytest.mark.parametrize(
    "over",
    [
        {"rows_per_band": 3},   # 42 bands; the 2 trailing slots are never stepped
        {"num_hashes": 32},     # 32 bands over the first 32 of the oracle's 128
    ],
)
def test_engine_bands_match_truncated_oracle(input_df, corpus, oracle_state, over):
    """The engine steps only ``band_count() * rows_per_band`` slots; its
    bands must equal band_hashes of the full-width (128-slot) module oracle
    signatures sliced to that many slots."""
    cfg = CFG.with_overrides(**over)
    _, _, sigs_o, _ = oracle_state
    freq = FreqTable.compute(input_df, cfg)
    pdf = compute_signatures(input_df, cfg, freq).toPandas().set_index("image_id")
    assert len(pdf) == N_ROWS
    for i, img in enumerate(corpus["image_id"]):
        got = np.asarray(pdf.loc[img, "bands"], dtype=np.int64)
        assert len(got) == cfg.band_count()
        assert np.array_equal(got, _oracle_bands(sigs_o[i], cfg)), img


def test_batch_minhash_rejects_zero_weights():
    """All batch_weights paths clamp weights to >= 1, and the block kernel's
    step-0 fast path relies on it (it advances EVERY key and takes the state
    as the first min).  The old loop silently treated a weight-0 key as
    never-contributing; a zero must now be rejected loudly, not silently
    reinterpreted as weight 1."""
    from mhap_spark.minhash import batch_minhash

    keys = np.array([3, 5, 9], dtype=np.uint64)
    rows = np.array([0, 0, 1])
    starts = np.array([0, 2, 3])
    w = np.array([1, 0, 2], dtype=np.int64)
    with pytest.raises(ValueError, match="weights >= 1"):
        batch_minhash(rows, keys, w, starts, 16)


def test_minhash_stream_dedup_identical():
    """The round-6 (key, weight)-stream dedup inside _minhash_block must be
    bit-identical to independent per-row computation.  Rows here share a
    small vocabulary (heavy cross-row duplication → the dedup gather path),
    while each single-row call sees only distinct (key, weight) pairs and
    takes the no-dedup path — so the two code paths check each other."""
    import mhap_spark.minhash as mh

    rng = np.random.default_rng(23)
    vocab = rng.integers(1, 2**63, size=40, dtype=np.uint64)
    n_rows = 120
    counts = rng.integers(1, 30, size=n_rows)
    row_starts = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=row_starts[1:])
    n_keys = int(row_starts[-1])
    # distinct keys per row, drawn from the shared vocabulary
    keys = np.concatenate(
        [
            np.sort(rng.choice(vocab, size=c, replace=False))
            for c in counts
        ]
    )
    rows = np.repeat(np.arange(n_rows), counts)
    # weight is a function of the key (like tf=1 idf weighting), plus a few
    # per-row overrides so some keys appear under MULTIPLE weights
    wmap = {int(k): int(w) for k, w in zip(vocab, rng.integers(1, 5, size=len(vocab)))}
    weights = np.array([wmap[int(k)] for k in keys], dtype=np.int64)
    weights[rng.integers(0, n_keys, size=n_keys // 10)] += 1

    got = mh._minhash_block(rows, keys, weights, row_starts, 48)
    for i in range(n_rows):
        a, b = row_starts[i], row_starts[i + 1]
        solo = mh._minhash_block(
            np.zeros(b - a, dtype=np.int64),
            keys[a:b],
            weights[a:b],
            np.array([0, b - a], dtype=np.int64),
            48,
        )
        assert np.array_equal(got[i], solo[0]), f"row {i} diverged"


def bottom_k_jaccard_col(a, b):
    """Bottom-k Jaccard as a pure JVM column expression over two ascending
    distinct int64 arrays — the reference for the Arrow kernel, algebraically
    identical to the merge loop in mhap/sketch/BottomOverlapSketch.java:304-364:
    with k = min(|a|,|b|) and u_k = the k smallest elements of the distinct
    union, score = |{x ∈ u_k : x ∈ a ∩ b}| / k.

    Ordering note: array_sort compares SIGNED int64 while the kernel selected
    the bottom-k in unsigned uint64 order — consistent only because every
    GRAFT-HASH-1 shingle hash is 63-bit (fmix64 then >>1, hashing.py spec), so
    the two orders coincide; pinned by tests/test_hashing.py's <2^63 asserts."""
    k = F.least(F.size(a), F.size(b))
    u_k = F.slice(F.array_sort(F.array_union(a, b)), 1, k)
    inter = F.array_intersect(a, b)
    hits = F.size(F.array_intersect(u_k, inter))
    return F.when(k > 0, hits.cast("double") / k.cast("double")).otherwise(F.lit(0.0))


def test_verified_pairs_arrow_impl_equals_jvm(spark, corpus, oracle_state, engine_sigs):
    """The vectorized Arrow jaccard kernel behind verified_pairs must
    produce value-identical verified pairs to the JVM array-expression
    reference (bottom_k_jaccard_col) under the same accept gate — jaccard
    is integer hits / integer k, so the two share every bit."""
    sig_df, _ = engine_sigs
    cands = candidate_pairs(sig_df, CFG)
    bk = sig_df.select("image_id", "bottomk")
    jvm_df = (
        cands.join(bk.select(F.col("image_id").alias("src"), F.col("bottomk").alias("a")), "src")
        .join(bk.select(F.col("image_id").alias("dst"), F.col("bottomk").alias("b")), "dst")
        .withColumn("jaccard", bottom_k_jaccard_col(F.col("a"), F.col("b")))
        .withColumn("score", jaccard_to_identity_col(F.col("jaccard"), CFG.k))
        .where((F.col("score") >= CFG.threshold) & (F.col("jaccard") >= CFG.min_jaccard))
    )
    jvm = {
        (r["src"], r["dst"]): (r["votes"], r["jaccard"], r["score"])
        for r in jvm_df.collect()
    }
    arrow = {
        (r["src"], r["dst"]): (r["votes"], r["jaccard"], r["score"])
        for r in verified_pairs(cands, sig_df, CFG).collect()
    }
    assert jvm == arrow
    assert jvm, "fixture must verify at least one pair"
