"""End-to-end pipeline tests: recall vs planted truth (EstimateROC analog,
SURVEY.md §5.2), resume-from-checkpoint semantics, and per-row invariants."""

import os

import numpy as np
import pytest

from mhap_spark.checkpoint import CheckpointStore
from mhap_spark.codecs import decode_image, psnr
from mhap_spark.config import MhapConfig
from mhap_spark.ops.multimodal import image_stats
from mhap_spark.pipeline import run_pipeline
from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus, truth_pairs

CFG = MhapConfig(num_hashes=128)
N_ROWS = 1000


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_ROWS, seed=7)


@pytest.fixture(scope="module")
def input_df(spark, corpus):
    return spark.createDataFrame(corpus_to_rows(corpus), INPUT_SCHEMA_DDL).repartition(8)


def test_end_to_end_recall_and_precision(spark, corpus, input_df):
    out = run_pipeline(spark, input_df, CFG)
    clusters = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    truth = truth_pairs(corpus["true_cluster"], corpus["image_id"])
    assert truth, "fixture must plant duplicate pairs"
    hit = sum(1 for a, b in truth if clusters[a] == clusters[b])
    recall = hit / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f}"
    # precision guard: found co-clustered pairs that aren't truth
    from collections import defaultdict

    members = defaultdict(list)
    for img, c in clusters.items():
        members[c].append(img)
    found = set()
    for mems in members.values():
        mems = sorted(mems)
        for i in range(len(mems)):
            for j in range(i + 1, len(mems)):
                found.add((mems[i], mems[j]))
    fp = len(found - truth)
    assert fp <= max(10, 0.02 * len(truth)), f"{fp} false pairs of {len(truth)}"


def test_keep_manifest_invariants(spark, corpus, input_df):
    """keep_manifest over the pipeline clusters: exactly one keeper per
    cluster, the keeper is the cluster minimum, every row decided."""
    from mhap_spark.cluster import keep_manifest

    out = run_pipeline(spark, input_df, CFG)
    rows = keep_manifest(out["clusters"]).collect()
    assert len(rows) == N_ROWS
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, mems in by_cluster.items():
        keepers = [r for r in mems if r["keep"]]
        assert len(keepers) == 1
        assert keepers[0]["image_id"] == cid == min(m["image_id"] for m in mems)


def test_resume_from_checkpoint(spark, corpus, input_df, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out1 = run_pipeline(spark, input_df, CFG, store=store)
    c1 = sorted((r["image_id"], r["cluster_id"]) for r in out1["clusters"].collect())

    # second run must skip all stages (manifest hit) and reproduce outputs —
    # feed an EMPTY input frame to prove nothing is recomputed
    empty = spark.createDataFrame([], INPUT_SCHEMA_DDL)
    store2 = CheckpointStore(str(tmp_path / "ckpt"))
    out2 = run_pipeline(spark, empty, CFG, store=store2)
    c2 = sorted((r["image_id"], r["cluster_id"]) for r in out2["clusters"].collect())
    assert c1 == c2

    # config change invalidates the manifest → stages recompute
    cfg3 = CFG.with_overrides(num_hashes=64)
    assert not store2.has("signatures", cfg3.config_hash())

    # lineage recorded per partition
    m = store._manifest()
    assert m["signatures"]["rows"] == N_ROWS
    assert sum(m["signatures"]["partitions"].values()) == N_ROWS


def test_resume_from_checkpoint_iceberg(spark, corpus, input_df, tmp_path):
    """Same resume protocol against the Iceberg backend of CheckpointStore.

    Skipped (not silently passed) where the iceberg-spark runtime jar is not
    on the session classpath — this sandbox ships none (SURVEY.md §7.3 risk
    5) — so the wired shape is pinned by a test either way: the store writes
    ``local.db.<stage>`` tables via DataFrameWriterV2 and resumes off the
    same manifest protocol as parquet."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip(
            "iceberg-spark runtime jar not on classpath; acquisition attempted "
            "round-4 and impossible here: no jar anywhere on disk (find / "
            "-name '*iceberg*'), no ivy/maven cache, and the sandbox has no "
            "network (DNS fails for both the pip index and repo1.maven.org)"
        )
    for k, v in {
        "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.local.type": "hadoop",
        "spark.sql.catalog.local.warehouse": str(tmp_path / "wh"),
    }.items():
        spark.conf.set(k, v)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS local.db")
    store = CheckpointStore(
        str(tmp_path / "ckpt_ice"), fmt="iceberg", table_prefix="local.db"
    )
    out1 = run_pipeline(spark, input_df, CFG, store=store)
    c1 = sorted((r["image_id"], r["cluster_id"]) for r in out1["clusters"].collect())
    empty = spark.createDataFrame([], INPUT_SCHEMA_DDL)
    store2 = CheckpointStore(
        str(tmp_path / "ckpt_ice"), fmt="iceberg", table_prefix="local.db"
    )
    out2 = run_pipeline(spark, empty, CFG, store=store2)
    c2 = sorted((r["image_id"], r["cluster_id"]) for r in out2["clusters"].collect())
    assert c1 == c2
    assert store._manifest()["signatures"]["format"] == "iceberg"


def test_resume_keyed_by_input_identity(spark, corpus, input_df, tmp_path):
    """Same config + same checkpoint dir + DIFFERENT input_key must NOT
    resume the other run's stages (the silent-stale-results hazard);
    same input_key must."""
    store = CheckpointStore(str(tmp_path / "ck"))
    out1 = run_pipeline(spark, input_df, CFG, store=store, input_key="rows=1000,seed=7")
    n1 = out1["clusters"].count()

    small = spark.createDataFrame(
        corpus_to_rows(generate_corpus(200, seed=9)), INPUT_SCHEMA_DDL
    ).repartition(4)
    out2 = run_pipeline(spark, small, CFG, store=store, input_key="rows=200,seed=9")
    assert out2["clusters"].count() == 200  # recomputed on the new corpus
    # and running the original input again recomputes it correctly rather
    # than returning run 2's stages (manifest now points at run 2's key)
    out3 = run_pipeline(spark, input_df, CFG, store=store, input_key="rows=1000,seed=7")
    assert out3["clusters"].count() == n1 == 1000


def test_checkpoint_versioned_overwrite_keeps_prior_reader(spark, tmp_path):
    """Versioned stage layout: a lazy reader over the committed version
    stays valid across ONE subsequent overwrite (grace generation), and
    read() always resolves the manifest-pointed version."""
    base = str(tmp_path / "ck")
    store = CheckpointStore(base)
    store.write(spark.range(100).withColumnRenamed("id", "x"), "s", "h1")
    reader_v1 = store.read(spark, "s")
    assert reader_v1.count() == 100

    store2 = CheckpointStore(base)  # concurrent-run writer, same base_dir
    store2.write(spark.range(40).withColumnRenamed("id", "x"), "s", "h2")
    # old reader still valid (v1 kept as grace), new read sees v2
    assert reader_v1.count() == 100
    assert store.read(spark, "s").count() == 40
    assert store.has("s", "h2") and not store.has("s", "h1")
    # a third write prunes v1: exactly two versions ever on disk
    store2.write(spark.range(7).withColumnRenamed("id", "x"), "s", "h3")
    import os as _os

    assert len(_os.listdir(_os.path.join(base, "s"))) == 2
    assert store.read(spark, "s").count() == 7


def test_per_row_invariant_psnr_and_caption(spark, corpus, input_df):
    """BASELINE.json input_hint: decoded-pixel PSNR ≥ 40 dB (lossy), bit-exact
    (lossless), caption passes through unmodified."""
    rows = input_df.select("image_id", "bytes", "fmt", "caption").collect()
    src_pixels = dict(zip(corpus["image_id"], corpus["pixels"]))
    src_caption = dict(zip(corpus["image_id"], corpus["caption"]))
    for r in rows[:200]:
        px = decode_image(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] == "png":
            assert (px == src_pixels[r["image_id"]]).all()
        else:
            assert psnr(src_pixels[r["image_id"]], px) >= 40.0
        assert r["caption"] == src_caption[r["image_id"]]


def test_image_stats_op(spark, input_df):
    stats = image_stats(input_df).toPandas()
    assert stats["decode_ok"].all()
    assert stats["phash_matches"].all()
    assert (stats["dec_w"] == 32).all() and (stats["dec_h"] == 32).all()


def test_image_stats_handles_bad_rows(spark):
    rows = [
        ("good", bytearray(b""), 1, 1, "jpeg", "cap", 0),  # unsupported codec
        ("corrupt", bytearray(b"\x00\x01"), 1, 1, "png", "cap", 0),
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
    got = {r["image_id"]: r for r in image_stats(df).collect()}
    assert not got["good"]["decode_ok"] and "unsupported" in got["good"]["decode_error"]
    assert not got["corrupt"]["decode_ok"] and "decode failed" in got["corrupt"]["decode_error"]


def test_config_hash_ignores_execution_only_knobs():
    """no_broadcast_hints changes the physical plan but provably not the
    output (BENCH/HINTS_AB_raw.json) — toggling it between a checkpoint
    write and a resume must NOT invalidate the manifest (the CLI
    auto-derives the hint default from --rows, so one logical run can see
    both values)."""
    cfg = MhapConfig()
    toggled = cfg.with_overrides(no_broadcast_hints=not cfg.no_broadcast_hints)
    assert cfg.config_hash() == toggled.config_hash()
    assert cfg.config_hash() != cfg.with_overrides(num_hashes=cfg.num_hashes + 1).config_hash()


def test_config_without_bands_is_rejected():
    """A config with no LSH band fails at construction — not late (a
    ZeroDivisionError in band_count for rows_per_band=0) and not silently
    (empty bands and zero candidates when num_hashes < rows_per_band)."""
    for over in (
        {"rows_per_band": 0},
        {"rows_per_band": -1},
        {"num_hashes": 3, "rows_per_band": 4},
        {"num_hashes": 0},
    ):
        with pytest.raises(ValueError, match="no LSH bands"):
            MhapConfig(**over)
        with pytest.raises(ValueError, match="no LSH bands"):
            MhapConfig().with_overrides(**over)
    assert MhapConfig(num_hashes=4, rows_per_band=4).band_count() == 1


def test_pair_recall_counts_planted_pairs():
    """bench._pair_recall backs perfbench's gated pair_recall: it scores
    planted intra-cluster pairs only."""
    from bench import _pair_recall

    ids = ["a", "b", "c", "s1", "s2"]
    truth = [0, 0, 0, 1, 2]  # one 3-member cluster, two planted singletons
    # the cluster split 2 + 1 keeps one of its three pairs; the singletons
    # share the engine cluster of a and b and of c without adding pairs
    split = {"a": "X", "b": "X", "c": "Y", "s1": "X", "s2": "Y"}
    assert _pair_recall(split, truth, ids) == pytest.approx(1 / 3)
    whole = {i: "X" for i in ids}
    assert _pair_recall(whole, truth, ids) == 1.0
    # no planted pairs at all: nothing to miss
    assert _pair_recall({"a": "X", "b": "X"}, [0, 1], ["a", "b"]) == 1.0


def test_default_cores_follows_host(monkeypatch):
    """Without a numeric SPARK_GRAFT_CPUS, build_session and bench.py size
    local mode to the host's CPU count; a numeric value still wins."""
    from mhap_spark.session import default_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert default_cores() == os.cpu_count()


def test_default_driver_memory_follows_host(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is half the host's RAM
    (MemTotal), at most 32g — never more than the host has; a set value
    still wins."""
    from mhap_spark.session import default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    got = default_driver_memory()
    assert got.endswith("m")
    assert int(got[:-1]) == min(32 * 1024, total_kb // 2048)
    assert int(got[:-1]) * 1024 < total_kb
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_plain_tf_mode_skips_freq_table(spark, input_df, monkeypatch):
    """repeat_weight ≥ 1.0 is plain-tf weighting: batch_weights never reads
    the df table, so the pipeline must not spend a full corpus-stats pass
    computing one (pre-round-5 it gated on repeat_weight ≥ 0 and did)."""
    import mhap_spark.pipeline as pl

    def _boom(*a, **k):  # any call = the wasted pass is back
        raise AssertionError("FreqTable.compute called in plain-tf mode")

    monkeypatch.setattr(pl.FreqTable, "compute", _boom)
    cfg = CFG.with_overrides(repeat_weight=1.0)
    out = run_pipeline(spark, input_df.limit(50), cfg)
    assert out["signatures"].count() == 50
