"""Star candidate mode (PRESET_SCALE): engine ⇄ oracle parity and
cluster-recall equivalence with the exact pairs mode."""

import pytest

from mhap_spark import oracle
from mhap_spark.candidates import candidate_pairs
from mhap_spark.config import MhapConfig
from mhap_spark.freq import FreqTable
from mhap_spark.minhash import compute_signatures
from mhap_spark.pipeline import run_pipeline
from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus, truth_pairs

CFG_STAR = MhapConfig(num_hashes=128, candidate_mode="star")
# full scale preset shape at unit size: star + few bands + sampled df
CFG_SCALE = MhapConfig(num_hashes=32, candidate_mode="star", freq_sample_mod=4)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(400, seed=11)


@pytest.fixture(scope="module")
def input_df(spark, corpus):
    return spark.createDataFrame(corpus_to_rows(corpus), INPUT_SCHEMA_DDL).repartition(4)


def test_star_candidates_match_oracle(spark, corpus, input_df):
    freq = FreqTable.compute(input_df, CFG_STAR)
    sig_df = compute_signatures(input_df, CFG_STAR, freq)
    got = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sig_df, CFG_STAR).collect()
    }
    shingle_sets = [
        oracle.row_shingles(c, int(p), CFG_STAR)
        for c, p in zip(corpus["caption"], corpus["phash"])
    ]
    freq_o = oracle.FreqFilter(oracle.df_ratio_table(shingle_sets), CFG_STAR)
    sigs_o = [oracle.weighted_minhash(sh, CFG_STAR, freq_o) for sh in shingle_sets]
    bottoms = [oracle.bottom_k(sh, CFG_STAR.ordered_sketch_size) for sh in shingle_sets]
    want = {
        (a, b): v
        for a, b, v, *_ in oracle.find_pairs(
            corpus["image_id"], sigs_o, bottoms, CFG_STAR.with_overrides(threshold=-1.0, min_jaccard=-1.0)
        )
    }
    assert got == want


def test_scale_preset_matches_oracle_and_truth(spark, corpus, input_df):
    """Few bands + hash-sampled df estimation: engine candidates still
    equal the oracle's at the identical config, and recall holds."""
    cfg = CFG_SCALE
    freq = FreqTable.compute(input_df, cfg)
    sig_df = compute_signatures(input_df, cfg, freq)
    got = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sig_df, cfg).collect()
    }
    shingle_sets = [
        oracle.row_shingles(c, int(p), cfg)
        for c, p in zip(corpus["caption"], corpus["phash"])
    ]
    freq_o = oracle.FreqFilter(
        oracle.df_ratio_table(
            shingle_sets, ids=corpus["image_id"], sample_mod=cfg.freq_sample_mod
        ),
        cfg,
    )
    sigs_o = [oracle.weighted_minhash(sh, cfg, freq_o) for sh in shingle_sets]
    bottoms = [oracle.bottom_k(sh, cfg.ordered_sketch_size) for sh in shingle_sets]
    want = {
        (a, b): v
        for a, b, v, *_ in oracle.find_pairs(
            corpus["image_id"], sigs_o, bottoms, cfg.with_overrides(threshold=-1.0, min_jaccard=-1.0)
        )
    }
    assert got == want
    # one band per slot, 32 slots
    first = sig_df.select("bands").first()
    assert len(first["bands"]) == 32

    truth = truth_pairs(corpus["true_cluster"], corpus["image_id"])
    out = run_pipeline(spark, input_df, cfg)
    cl = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    hit = sum(1 for a, b in truth if cl[a] == cl[b])
    assert hit / len(truth) >= 0.99


def test_star_clusters_preserve_recall(spark, corpus, input_df):
    """Star edges must reproduce the same planted-cluster recall as all-pairs
    mode (connectivity through verified hubs)."""
    truth = truth_pairs(corpus["true_cluster"], corpus["image_id"])
    star = run_pipeline(spark, input_df, CFG_STAR)
    cl = {r["image_id"]: r["cluster_id"] for r in star["clusters"].collect()}
    hit = sum(1 for a, b in truth if cl[a] == cl[b])
    assert hit / len(truth) >= 0.99

    # and star candidate volume is strictly smaller than all-pairs volume
    pairs_cfg = CFG_STAR.with_overrides(candidate_mode="pairs")
    n_star = star["pairs"].count()
    n_pairs = run_pipeline(spark, input_df, pairs_cfg)["pairs"].count()
    assert n_star < n_pairs


# --- mega-cluster / oversize-bucket adversarial path (round-4) --------------

CFG_MEGA = MhapConfig(num_hashes=128, candidate_mode="star", max_bucket_size=32)


@pytest.fixture(scope="module")
def mega_corpus():
    """One planted 300-member duplicate cluster (≈10× the 32-row bucket cap —
    its band buckets are oversize in EVERY band) plus the usual Zipf mix."""
    return generate_corpus(600, seed=11, mega_cluster=300)


@pytest.fixture(scope="module")
def mega_df(spark, mega_corpus):
    return spark.createDataFrame(
        corpus_to_rows(mega_corpus), INPUT_SCHEMA_DDL
    ).repartition(8)


def test_mega_cluster_salted_candidates_match_oracle(spark, mega_corpus, mega_df):
    """Salted sub-bucket emission (star mode's oversize path) is bit-exact
    against the numpy oracle — votes included — on a corpus where the hot
    cluster exceeds the bucket cap in every band."""
    freq = FreqTable.compute(mega_df, CFG_MEGA)
    sig_df = compute_signatures(mega_df, CFG_MEGA, freq)
    got = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sig_df, CFG_MEGA).collect()
    }
    shingle_sets = [
        oracle.row_shingles(c, int(p), CFG_MEGA)
        for c, p in zip(mega_corpus["caption"], mega_corpus["phash"])
    ]
    freq_o = oracle.FreqFilter(oracle.df_ratio_table(shingle_sets), CFG_MEGA)
    sigs_o = [oracle.weighted_minhash(sh, CFG_MEGA, freq_o) for sh in shingle_sets]
    bottoms = [
        oracle.bottom_k(sh, CFG_MEGA.ordered_sketch_size) for sh in shingle_sets
    ]
    want = {
        (a, b): v
        for a, b, v, *_ in oracle.find_pairs(
            mega_corpus["image_id"],
            sigs_o,
            bottoms,
            CFG_MEGA.with_overrides(threshold=-1.0, min_jaccard=-1.0),
        )
    }
    assert got == want


def test_mega_cluster_recall_salted(spark, mega_corpus, mega_df):
    """The whole point of the salted path: with buckets over the cap, the
    planted mega-cluster must still resolve to ONE cluster with recall
    ≥ 0.99."""
    truth = truth_pairs(mega_corpus["true_cluster"], mega_corpus["image_id"])
    mega_ids = [
        i
        for i, c in zip(mega_corpus["image_id"], mega_corpus["true_cluster"])
        if c == 0
    ]

    out = run_pipeline(spark, mega_df, CFG_MEGA)
    cl = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    recall = sum(1 for a, b in truth if cl[a] == cl[b]) / len(truth)
    assert recall >= 0.99, f"salted recall {recall:.3f}"
    assert len({cl[i] for i in mega_ids}) == 1, "mega-cluster fragmented"
    out["signatures"].unpersist()
    out["pairs"].unpersist()


def test_mega_cluster_funnel_accounts_for_salted_buckets(spark, mega_corpus, mega_df):
    """candidate_pairs_generated must equal Σ(size−1) over ALL buckets with
    ≥2 members — salted oversize buckets included (exactly size−1 edges
    each) — and n_buckets_capped must count the oversize buckets."""
    from pyspark.sql import Observation, functions as F

    from mhap_spark.candidates import bucket_sizes, exploded_bands

    freq = FreqTable.compute(mega_df, CFG_MEGA)
    sig_df = compute_signatures(mega_df, CFG_MEGA, freq).persist()
    obs = Observation()
    pre_gate_edges = candidate_pairs(sig_df, CFG_MEGA, funnel_obs=obs)
    pre_gate_edges.count()
    funnel = dict(obs.get)

    sizes = {
        r["band_hash"]: r["bucket_size"]
        for r in bucket_sizes(exploded_bands(sig_df)).collect()
    }
    want_edges = sum(s - 1 for s in sizes.values() if s >= 2)
    want_capped = sum(1 for s in sizes.values() if s > CFG_MEGA.max_bucket_size)
    assert want_capped > 0, "fixture failed to produce oversize buckets"
    assert int(funnel["candidate_pairs_generated"]) == want_edges
    assert int(funnel["n_buckets_capped"]) == want_capped
    assert int(funnel["max_bucket_size_seen"]) >= 200
    sig_df.unpersist()
