"""Two-table probe mode (reference -q usage) and incremental streaming ingest."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame, Observation, functions as F

from mhap_spark.candidates import (
    _funnel_exprs,
    bucket_sizes,
    candidate_pairs,
    exploded_bands,
)
from mhap_spark.config import MhapConfig
from mhap_spark.hints import scaled
from mhap_spark.minhash import compute_signatures
from mhap_spark.streaming import IncrementalDedup, read_image_stream
from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus
from mhap_spark.verify import verified_pairs

CFG = MhapConfig(num_hashes=128, min_jaccard=0.2)


def _df(spark, corpus, lo, hi):
    rows = corpus_to_rows(corpus)[lo:hi]
    return spark.createDataFrame(rows, INPUT_SCHEMA_DDL)


def probe_candidates(
    probe_sigs: DataFrame, indexed_sigs: DataFrame, cfg: MhapConfig,
    funnel_obs: Observation | None = None,
) -> DataFrame:
    """Two-table mode — the reference's ``-q`` usage (stream query sequences
    against an indexed set, mhap/main/MhapMain.java:511-541;
    ``findMatches(toSelf=false)`` mhap/impl/MinHashSearch.java:200): probe rows
    are matched against the indexed table with no pair-order pruning.

    Returns (probe_id, index_id, votes ≥ gate).  The indexed side's bucket
    sizes are capped exactly like the pairs-mode path.

    ``funnel_obs`` (optional) rides the INDEX side's bucket sizes — in probe
    mode ``candidate_pairs_generated`` therefore counts both-stored bucket
    pairs (the symmetric-index formula), a lower bound on probe candidates;
    the bucket counts/cap/max metrics are exact for the index."""
    probe = exploded_bands(probe_sigs).withColumnRenamed("image_id", "probe_id")
    index = exploded_bands(indexed_sigs).withColumnRenamed("image_id", "index_id")
    sizes = bucket_sizes(index)
    if funnel_obs is not None:
        sizes = sizes.observe(funnel_obs, *_funnel_exprs(cfg))
    index_ok = index.join(
        scaled(sizes.where(F.col("bucket_size") <= cfg.max_bucket_size), cfg),
        ["band_hash"],
    )
    return (
        probe.join(scaled(index_ok, cfg), ["band_hash"])
        .where(F.col("probe_id") != F.col("index_id"))
        .groupBy("probe_id", "index_id")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= F.lit(cfg.min_band_matches()))
    )


def test_probe_candidates_vs_self_join(spark):
    """Probing set A against set B must find exactly the cross-set pairs the
    self-join finds on A ∪ B (restricted to one probe/index side each)."""
    corpus = generate_corpus(300, seed=21)
    full = _df(spark, corpus, 0, 300).repartition(4)
    a = _df(spark, corpus, 0, 150)
    b = _df(spark, corpus, 150, 300)
    sig_a = compute_signatures(a, CFG, None)
    sig_b = compute_signatures(b, CFG, None)
    got = {
        (r["probe_id"], r["index_id"]): r["votes"]
        for r in probe_candidates(sig_a, sig_b, CFG).collect()
    }
    sig_full = compute_signatures(full, CFG, None)
    self_pairs = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sig_full, CFG).collect()
    }
    ids_a = set(corpus["image_id"][:150])
    ids_b = set(corpus["image_id"][150:])
    cross = {
        (a_, b_): v for (a_, b_), v in self_pairs.items()
        if (a_ in ids_a) != (b_ in ids_a)
    }
    # probe emits (probe, index) orientation — assert it for EVERY row
    # first (a filtered comparison would silently drop malformed intra-set
    # pairs), then compare the full canonicalized maps
    for a_, b_ in got:
        assert a_ in ids_a and b_ in ids_b, (a_, b_)
    got_canon = {tuple(sorted(k)): v for k, v in got.items()}
    want_canon = {tuple(sorted(k)): v for k, v in cross.items()}
    assert got_canon == want_canon


def test_min_store_shingles_filter(spark):
    """Store filter (mhap/main/MhapMain.java:79 --min-store-length): rows
    below the threshold probe the index but are not stored, so (short, long)
    pairs survive while (short, short) pairs are skipped; with the filter
    disabled-by-threshold (0 or below every row) the asymmetric path must
    reproduce the symmetric self-join exactly."""
    corpus = generate_corpus(300, seed=21)
    sigs = compute_signatures(_df(spark, corpus, 0, 300).repartition(4), CFG, None)
    sigs = sigs.persist()
    base = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sigs, CFG).collect()
    }

    # threshold below the corpus minimum ≡ symmetric index, bit-for-bit
    lo = int(sigs.agg(F.min("n_shingles")).collect()[0][0])
    assert lo > 0, "synth captions are long enough that every row shingles"
    cfg_all = CFG.with_overrides(min_store_shingles=lo)
    got_all = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sigs, cfg_all).collect()
    }
    assert got_all == base

    # a real threshold: pairs among short rows vanish, everything else stays
    thr = int(
        sigs.agg(F.percentile_approx("n_shingles", 0.5)).collect()[0][0]
    )
    short_ids = {
        r["image_id"]
        for r in sigs.where(F.col("n_shingles") < thr).select("image_id").collect()
    }
    cfg_store = CFG.with_overrides(min_store_shingles=thr)
    got = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sigs, cfg_store).collect()
    }
    want = {
        k: v for k, v in base.items()
        if not (k[0] in short_ids and k[1] in short_ids)
    }
    assert got == want
    assert len(want) < len(base), "median threshold must actually drop pairs"

    # under a bucket cap the stored rows alone are checked against it: the
    # asymmetric probe join (stored rows as the index side, canonicalized
    # with max votes) is the reference
    cfg_cap = cfg_store.with_overrides(max_bucket_size=4)
    stored = sigs.where(F.col("n_shingles") >= F.lit(thr))
    want_cap = {
        (r["src"], r["dst"]): r["votes"]
        for r in probe_candidates(sigs, stored, cfg_cap)
        .groupBy(
            F.least("probe_id", "index_id").alias("src"),
            F.greatest("probe_id", "index_id").alias("dst"),
        )
        .agg(F.max("votes").alias("votes"))
        .collect()
    }
    got_cap = {
        (r["src"], r["dst"]): r["votes"]
        for r in candidate_pairs(sigs, cfg_cap).collect()
    }
    assert got_cap == want_cap
    # not vacuous: buckets whose rows exceed the cap but whose stored rows
    # do not still emit, so the filter finds more pairs than no filter does
    n_cap_all = candidate_pairs(sigs, CFG.with_overrides(max_bucket_size=4)).count()
    assert len(got_cap) > n_cap_all

    # star mode has no probe/store asymmetry — must refuse loudly
    with pytest.raises(ValueError):
        candidate_pairs(sigs, cfg_store.with_overrides(candidate_mode="star"))
    sigs.unpersist()


def _write_chunked_parquet(tmp_path, rows, n_chunks: int = 4) -> str:
    """One parquet file per micro-batch boundary; shared by the streaming
    tests so the fixture schema lives in exactly one place."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    per = len(rows) // n_chunks
    for i in range(n_chunks):
        chunk = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "image_id": [r[0] for r in chunk],
                "bytes": pa.array([bytes(r[1]) for r in chunk], pa.binary()),
                "w": pa.array([r[2] for r in chunk], pa.int32()),
                "h": pa.array([r[3] for r in chunk], pa.int32()),
                "fmt": [r[4] for r in chunk],
                "caption": [r[5] for r in chunk],
                "phash": pa.array([r[6] for r in chunk], pa.int64()),
            }
        )
        pq.write_table(tbl, os.path.join(in_dir, f"part{i}.parquet"))
    return in_dir


def test_incremental_streaming_dedup(spark, tmp_path):
    """Stream the corpus in file-chunks; every near-dup pair that spans
    batches must be found by the probe join."""
    corpus = generate_corpus(200, seed=5)
    rows = corpus_to_rows(corpus)
    in_dir = _write_chunked_parquet(tmp_path, rows)

    base = str(tmp_path / "dedup")
    sink = IncrementalDedup(base, CFG)
    stream = read_image_stream(spark, in_dir, INPUT_SCHEMA_DDL, max_files=1)
    q = sink.start(stream)
    q.awaitTermination(120)

    sigs = spark.read.parquet(os.path.join(base, "signatures"))
    assert sigs.count() == 200

    matches = spark.read.parquet(os.path.join(base, "matches"))
    got = {tuple(sorted((r["src"], r["dst"]))) for r in matches.collect()}

    # ground truth: cross-batch near-dup pairs from the batch pipeline
    from mhap_spark.pipeline import run_pipeline

    full = spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
    batch_pairs = {
        tuple(sorted((r["src"], r["dst"])))
        for r in run_pipeline(spark, full, CFG)["pairs"].collect()
    }
    # round-2: intra-batch pairs are covered too (stage 1 on each batch's own
    # signatures), so the streaming result must cover ALL batch-pipeline pairs
    missed = batch_pairs - got
    assert not missed, f"missed pairs: {sorted(missed)[:5]}"


def test_streaming_keep_manifest_first_arrival(spark, tmp_path):
    """keep_manifest=True: every arriving row gets exactly one keep/drop
    decision; drop ⇔ verified match to an earlier batch (first arrival
    wins) or to a smaller id within the same batch."""
    corpus = generate_corpus(200, seed=5)
    rows = corpus_to_rows(corpus)
    in_dir = _write_chunked_parquet(tmp_path, rows)

    base = str(tmp_path / "dedup")
    sink = IncrementalDedup(base, CFG, keep_manifest=True)
    q = sink.start(read_image_stream(spark, in_dir, INPUT_SCHEMA_DDL, max_files=1))
    q.awaitTermination(120)

    keep = spark.read.parquet(os.path.join(base, "keep")).collect()
    assert len(keep) == 200
    assert len({r["image_id"] for r in keep}) == 200  # one decision per row

    # independent expectation from the recorded matches + batch assignment
    batch_of = {
        r["image_id"]: r["batch_id"]
        for r in spark.read.parquet(os.path.join(base, "signatures")).collect()
    }
    expected_drop = set()
    for r in spark.read.parquet(os.path.join(base, "matches")).collect():
        if batch_of[r["src"]] == batch_of[r["dst"]]:
            expected_drop.add(max(r["src"], r["dst"]))
        else:
            expected_drop.add(
                r["src"] if batch_of[r["src"]] > batch_of[r["dst"]] else r["dst"]
            )
    assert {r["image_id"] for r in keep if not r["keep"]} == expected_drop
    assert expected_drop, "fixture must actually drop duplicates"


def test_streaming_retry_idempotent(spark, tmp_path):
    """Replaying a micro-batch (foreachBatch retry semantics) must not
    duplicate signatures or matches — each batch owns its batch_id=N dir."""
    corpus = generate_corpus(80, seed=9)
    rows = corpus_to_rows(corpus)
    base = str(tmp_path / "dedup")
    sink = IncrementalDedup(base, CFG)
    b0 = spark.createDataFrame(rows[:40], INPUT_SCHEMA_DDL)
    b1 = spark.createDataFrame(rows[40:], INPUT_SCHEMA_DDL)
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    sigs1 = spark.read.parquet(os.path.join(base, "signatures"))
    m1 = spark.read.parquet(os.path.join(base, "matches"))
    n_sigs, n_matches = sigs1.count(), m1.count()
    # replay batch 1 (as after a post-write pre-commit failure)
    sink.process_batch(b1, 1)
    sigs2 = spark.read.parquet(os.path.join(base, "signatures"))
    m2 = spark.read.parquet(os.path.join(base, "matches"))
    assert sigs2.count() == n_sigs == 80
    assert m2.count() == n_matches


def test_windowed_event_counts_with_watermark(spark, tmp_path):
    """Streamed watermarked hourly counts must equal the batch groupBy on
    the same files (availableNow drains everything, so no row is actually
    late — this pins the plan shape and the append-mode emission)."""
    import datetime as dt

    from mhap_spark.streaming import windowed_event_counts

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=7 * i), f"t{i % 3}", float(i)) for i in range(60)
    ]
    ddl = "ts timestamp, event_type string, value double"
    in_dir = str(tmp_path / "events_in")
    os.makedirs(in_dir)
    # time-ordered micro-batch files: arrival order tracks event time, so no
    # row is later than the 2h watermark tolerance and nothing is dropped
    for i in range(3):
        spark.createDataFrame(rows[i * 20 : (i + 1) * 20], ddl).coalesce(
            1
        ).write.parquet(os.path.join(in_dir, f"chunk={i}"))

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour_epoch"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM hourly_counts").collect()
    }
    want = {
        (r["hour_epoch"], r["event_type"]): r["n_events"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(in_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("hour_epoch"), "event_type", "n_events"
        )
        .collect()
    }
    # append mode emits only windows already closed by the final watermark
    # (2h behind max event time → the last ~3 hourly windows stay open);
    # every emitted window must match the batch aggregate exactly
    assert got, "no windows emitted"
    for k, v in got.items():
        assert want[k] == v, (k, v, want[k])
    n_types = 3
    assert len(got) >= len(want) - 3 * n_types


def _reference_feeds(spark, chunks, cfg):
    """Per batch k, computed without the band index: ``(k, sigs, cands,
    both)`` with the batch's signatures, the candidates the sink must
    verify — stage 1 on the batch's own signatures plus the probe_candidates
    reference against the signatures of every earlier batch — and the signatures of
    batches up to k."""
    earlier, cached = None, []
    try:
        for k, chunk in enumerate(chunks):
            sigs = compute_signatures(
                spark.createDataFrame(chunk, INPUT_SCHEMA_DDL), cfg, None
            ).persist()
            cached.append(sigs)
            cands = candidate_pairs(sigs, cfg)
            both = sigs
            if earlier is not None:
                cands = cands.unionByName(
                    probe_candidates(sigs, earlier, cfg).select(
                        F.col("probe_id").alias("src"),
                        F.col("index_id").alias("dst"),
                        "votes",
                    )
                )
                both = sigs.unionByName(earlier)
            yield k, sigs, cands, both
            earlier = both
    finally:
        for sigs in cached:
            sigs.unpersist()


def _reference_matches(spark, chunks, cfg, cols=("src", "dst")):
    """Per-batch matches the sink must write: one verify of each batch's
    reference candidates, as tuples of ``cols``."""
    return {
        k: {
            tuple(r[c] for c in cols)
            for r in verified_pairs(cands, both, cfg).collect()
        }
        for k, _, cands, both in _reference_feeds(spark, chunks, cfg)
    }


def _sink_matches(spark, base, k_batches, cols=("src", "dst")):
    return {
        k: {
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(
                os.path.join(base, "matches", f"batch_id={k}")
            ).collect()
        }
        for k in range(k_batches)
    }


def test_streaming_band_index_equivalent(spark, tmp_path, monkeypatch):
    """The band-index sink must write the reference's per-batch matches
    through a fresh sink in mid-stream, a replayed batch, a replayed first
    batch on a fresh directory, a crash after commit followed by a
    fresh-sink replay, and a crash between the batch's append and its
    matches write followed by a fresh-sink replay (each batch overwrites
    its own batch_id=N dirs)."""
    from mhap_spark import streaming

    def crash(*args, **kwargs):
        raise RuntimeError("verify crashed")

    corpus = generate_corpus(160, seed=13)
    rows = corpus_to_rows(corpus)
    chunks = [rows[i * 40 : (i + 1) * 40] for i in range(4)]

    # the sink keeps no state beyond its directories, so one run can take
    # every scenario in turn
    base = str(tmp_path / "banded")
    sink = IncrementalDedup(base, CFG, keep_manifest=True)
    for k, chunk in enumerate(chunks):
        bdf = spark.createDataFrame(chunk, INPUT_SCHEMA_DDL)
        if k == 2:  # driver restart: fresh sink object
            sink = IncrementalDedup(base, CFG, keep_manifest=True)
            # crash AFTER the batch's signatures and band rows are written
            # but before its matches: the replay probes over the batch's
            # own partitions and must not pair its rows with a stale copy
            with monkeypatch.context() as m:
                m.setattr(streaming, "verified_pairs", crash)
                with pytest.raises(RuntimeError, match="verify crashed"):
                    sink.process_batch(bdf, k)
            for sub in ("signatures", "band_index"):
                assert _has_part_files(os.path.join(base, sub, "batch_id=2")), sub
            assert not os.path.exists(os.path.join(base, "matches", "batch_id=2"))
            sink = IncrementalDedup(base, CFG, keep_manifest=True)
        sink.process_batch(bdf, k)
        if k in (0, 3):
            sink.process_batch(bdf, k)  # foreachBatch replay
        if k == 1:
            # crash AFTER the batch's partitions committed but before the
            # streaming offset did: the driver restarts and foreachBatch
            # replays the SAME batch over its own stale partitions
            sink = IncrementalDedup(base, CFG, keep_manifest=True)
            sink.process_batch(bdf, k)
    # votes too: a replay whose probe met a stale copy of the batch's own
    # band rows would count their shared bands twice
    cols = ("src", "dst", "votes")
    want = _reference_matches(spark, chunks, CFG, cols)
    assert _sink_matches(spark, base, len(chunks), cols) == want
    assert any(want[k] for k in want)  # the comparison is not vacuous
    # compact layout: part files directly under batch_id=N, no subdirectories
    bi = os.path.join(base, "band_index", "batch_id=0")
    entries = os.listdir(bi)
    assert any(f.startswith("part-") for f in entries)
    assert not any(os.path.isdir(os.path.join(bi, d)) for d in entries)


def test_band_index_rejects_prefix_partitioned_layout(spark, tmp_path):
    """An index written in the old layout (each batch split into per-prefix
    partition directories) cannot take compact batches — Spark's partition
    discovery rejects the mix — so construction must fail before any write."""
    from mhap_spark.streaming import BandIndex

    base = str(tmp_path / "d")
    old_batch = os.path.join(base, "band_index", "batch_id=0")
    spark.range(8).select(
        F.col("id").alias("band_hash"),
        F.col("id").cast("string").alias("image_id"),
        F.pmod("id", F.lit(4)).alias("prefix"),
    ).write.partitionBy("prefix").parquet(old_batch)
    with pytest.raises(ValueError, match="prefix-partitioned layout"):
        BandIndex(os.path.join(base, "band_index"))
    with pytest.raises(ValueError, match="prefix-partitioned layout"):
        IncrementalDedup(base, CFG)
    assert not os.path.exists(os.path.join(base, "signatures"))


def test_wide_signature_schema_still_read(spark, tmp_path):
    """Signature tables written before the narrow schema carry two more
    columns, ``sig`` (the slots) and ``bitsig`` (the packed one-bit sketch),
    under the same config hash.  Every consumer selects the columns it reads,
    so a wide checkpoint A resumes to the fresh run's pairs and clusters,
    and a stream whose earlier batches are wide keeps the reference's
    matches while later batches append narrow ones."""
    from mhap_spark.checkpoint import CheckpointStore
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.streaming import BandIndex

    def widen(sigs):
        return sigs.select(
            "image_id",
            "n_shingles",
            F.array_repeat(F.lit(7), CFG.num_hashes).alias("sig"),
            "bottomk",
            "bands",
            F.array_repeat(F.lit(7).cast("long"), CFG.num_hashes // 64).alias("bitsig"),
        )

    rows = corpus_to_rows(generate_corpus(120, seed=13))
    chunks = [rows[i * 40 : (i + 1) * 40] for i in range(3)]

    # (a) checkpoint A in the wide schema, resumed with an empty input
    fresh = run_pipeline(spark, spark.createDataFrame(rows, INPUT_SCHEMA_DDL), CFG)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    store.write(widen(fresh["signatures"]), "signatures", CFG.config_hash())
    assert "bitsig" in store.read(spark, "signatures").columns
    resumed = run_pipeline(
        spark, spark.createDataFrame([], INPUT_SCHEMA_DDL), CFG, store=store
    )
    for stage in ("pairs", "clusters"):
        want = {tuple(r) for r in fresh[stage].collect()}
        assert {tuple(r) for r in resumed[stage].collect()} == want and want
    fresh["signatures"].unpersist()
    fresh["pairs"].unpersist()

    # (b) a stream dir whose batch 0 a wide-schema sink wrote (signatures
    # and band index); batch 2 reads a signature table mixing both schemas
    base = str(tmp_path / "stream")
    sigs0 = compute_signatures(
        spark.createDataFrame(chunks[0], INPUT_SCHEMA_DDL), CFG, None
    ).persist()
    widen(sigs0).write.parquet(os.path.join(base, "signatures", "batch_id=0"))
    BandIndex(os.path.join(base, "band_index")).append(sigs0, 0)
    sigs0.unpersist()
    sink = IncrementalDedup(base, CFG, keep_manifest=True)
    for k in (1, 2):
        sink.process_batch(spark.createDataFrame(chunks[k], INPUT_SCHEMA_DDL), k)
    want = _reference_matches(spark, chunks, CFG)
    for k in (1, 2):
        got = spark.read.parquet(os.path.join(base, "matches", f"batch_id={k}"))
        assert {(r["src"], r["dst"]) for r in got.collect()} == want[k]
    # not vacuous: later batches verify matches against the wide batch
    ids0 = {r[0] for r in chunks[0]}
    assert any(dst in ids0 for k in (1, 2) for _, dst in want[k])


def test_band_index_capped_bucket_adversary(spark, tmp_path):
    """A planted cluster larger than max_bucket_size makes index-side buckets
    that the probe must drop exactly as probe_candidates does: every index
    row of a probed band survives the broadcast semi-join, so the capped
    bucket sizes are the true ones.  The probe's candidate set, votes
    included, must equal the reference's for every batch, so a vote or cap
    difference on a pair that then fails verify still shows, and each
    probe row's ``intra_batch`` tag must say whether dst is in the batch."""
    import numpy as np

    cfg = CFG.with_overrides(max_bucket_size=8)
    corpus = generate_corpus(150, seed=23, with_images=False, mega_cluster=30)
    rows = corpus_to_rows(corpus)
    # spread the planted cluster over every batch
    rows = [rows[j] for j in np.random.default_rng(23).permutation(len(rows))]
    chunks = [rows[i * 50 : (i + 1) * 50] for i in range(3)]

    banded_dir = str(tmp_path / "banded")
    sink = IncrementalDedup(banded_dir, cfg)
    for (k, sigs, cands, _), chunk in zip(_reference_feeds(spark, chunks, cfg), chunks):
        sink.process_batch(spark.createDataFrame(chunk, INPUT_SCHEMA_DDL), k)
        probed = sink.bindex.probe(sigs, cfg, k).collect()
        ids_k = {r[0] for r in chunk}
        for r in probed:
            assert r["intra_batch"] == (r["dst"] in ids_k), (k, r)
        got = sorted((r["src"], r["dst"], r["votes"]) for r in probed)
        assert got == sorted(tuple(r) for r in cands.collect()), k
        assert got, k
    want = _reference_matches(spark, chunks, cfg)
    assert _sink_matches(spark, banded_dir, len(chunks)) == want
    # not vacuous: the last batch has matches and probes index buckets
    # above the cap
    last = len(chunks) - 1
    assert want[last]
    bi = spark.read.parquet(os.path.join(banded_dir, "band_index"))
    probed = bi.where(F.col("batch_id") == last).select("band_hash").distinct()
    biggest = (
        bi.where(F.col("batch_id") < last)
        .join(probed, "band_hash", "left_semi")
        .groupBy("band_hash")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert biggest > cfg.max_bucket_size


def test_process_batch_leaves_caller_cache_alone(spark, tmp_path):
    """process_batch persists an uncached micro-batch only for its own
    duration, and never unpersists a batch the caller cached."""
    from pyspark import StorageLevel

    rows = corpus_to_rows(generate_corpus(60, seed=9))
    sink = IncrementalDedup(str(tmp_path / "d"), CFG)
    cached = spark.createDataFrame(rows[:30], INPUT_SCHEMA_DDL).persist()
    sink.process_batch(cached, 0)
    assert cached.is_cached
    assert cached.storageLevel != StorageLevel.NONE
    cached.unpersist()
    plain = spark.createDataFrame(rows[30:], INPUT_SCHEMA_DDL)
    sink.process_batch(plain, 1)
    assert not plain.is_cached
    assert plain.storageLevel == StorageLevel.NONE


def test_incremental_dedup_rejects_min_store(tmp_path):
    """min_store_shingles would filter intra-batch but not the accumulated
    index — match output would depend on arrival batching; must refuse."""
    with pytest.raises(ValueError, match="min_store_shingles"):
        IncrementalDedup(str(tmp_path), CFG.with_overrides(min_store_shingles=10))


def _has_part_files(path):
    """True iff ``path`` holds a committed parquet part file outside any
    ``_temporary`` subtree."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_temporary"]
        if any(f.startswith("part-") for f in files):
            return True
    return False


def _plant_uncommitted(base, batch_id):
    """Leave signatures/ and band_index/ as a crash mid-write of
    ``batch_id`` does: only a ``_temporary`` subtree under batch_id=N."""
    for sub in ("signatures", "band_index"):
        tmp = os.path.join(base, sub, f"batch_id={batch_id}", "_temporary", "0")
        os.makedirs(tmp)
        with open(os.path.join(tmp, "task_000"), "w") as f:
            f.write("junk")


def _names(keys):
    """Column names of a physical-plan key list ``a#1L, b#2``."""
    return {k.strip().split("#")[0] for k in keys.split(",")}


def test_streaming_recovers_from_uncommitted_first_write(spark, tmp_path, monkeypatch):
    """Signature and band-index dirs holding only a _temporary subtree (crash
    mid-write of the first batch) must read as an empty history, not throw
    UNABLE_TO_INFER_SCHEMA on every replay, and the replay commits.  The
    same crash in batch 1, beside the committed batch 0, must leave the
    replay reading batch 0 as its history and writing the reference's
    matches.  The probe over an unpersisted signature source plans its
    bucket sizes as ONE window over (band_hash, cur): no cached collision
    set and no sizes aggregate joined back on that key."""
    rows = corpus_to_rows(generate_corpus(120, seed=13))
    chunks = [rows[:60], rows[60:]]
    base = str(tmp_path / "dedup")
    _plant_uncommitted(base, 0)
    for sub in ("signatures", "band_index"):
        assert not _has_part_files(os.path.join(base, sub))
    sink = IncrementalDedup(base, CFG, keep_manifest=True)
    b0 = spark.createDataFrame(chunks[0], INPUT_SCHEMA_DDL)
    sigs0 = compute_signatures(b0, CFG, None)
    plans = []
    checkpoint = type(sigs0).localCheckpoint

    def planned(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(type(sigs0), "localCheckpoint", planned)
        # the replay sees an empty index
        assert sink.bindex.probe(sigs0, CFG, 0).count() == 0
    (plan,) = plans
    lines = plan.splitlines()
    # a Window line ends with its partition keys
    windows = [ln for ln in lines if ln.lstrip(" :+-").startswith("Window [")]
    assert len(windows) == 1, plan
    assert _names(windows[0].rsplit("[", 1)[1].rstrip("]")) == {"band_hash", "cur"}
    assert "InMemoryTableScan" not in plan, plan
    join_keys = [
        _names(ln.split("Join [", 1)[1].split("]", 1)[0])
        for ln in lines if "Join [" in ln
    ]
    assert join_keys and {"band_hash", "cur"} not in join_keys, plan
    sink.process_batch(b0, 0)
    for sub in ("signatures", "band_index", "matches"):
        assert _has_part_files(os.path.join(base, sub)), sub

    _plant_uncommitted(base, 1)
    sink.process_batch(spark.createDataFrame(chunks[1], INPUT_SCHEMA_DDL), 1)
    want = _reference_matches(spark, chunks, CFG)
    assert _sink_matches(spark, base, len(chunks)) == want
    # not vacuous: batch 1 matches rows of batch 0
    ids0 = {r[0] for r in chunks[0]}
    assert any(dst in ids0 for _, dst in want[1])


def test_incremental_dedup_rejects_band_index_off(tmp_path):
    """The band index is the only cross-batch path: band_index=False is
    refused at construction, before anything is written."""
    base = str(tmp_path / "d")
    with pytest.raises(ValueError, match="band_index=False"):
        IncrementalDedup(base, CFG, band_index=False)
    assert not os.path.exists(base)


def test_incremental_dedup_rejects_star_mode(tmp_path):
    """Star emission needs the CC stage to close hub-mediated transitive
    matches; the streaming sink runs no CC, so per-batch output would depend
    on arrival batching.  Rejected loudly, like candidate_pairs rejects
    min_store+star."""
    from mhap_spark.config import PRESET_SCALE

    assert PRESET_SCALE.candidate_mode == "star"
    with pytest.raises(ValueError, match="candidate_mode='pairs'"):
        IncrementalDedup(str(tmp_path), PRESET_SCALE)


def test_keep_manifest_rejects_recurring_ids(spark, tmp_path):
    """keep_manifest's documented precondition (image_id unique across the
    stream) must fail loudly — an id recurring in a later batch would
    silently mis-orient that pair's drop decision — and before any write,
    so the rejected batch leaves nothing on disk."""
    corpus = generate_corpus(60, seed=9)
    rows = corpus_to_rows(corpus)
    df = spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
    base = str(tmp_path / "d")
    sink = IncrementalDedup(base, CFG, keep_manifest=True)
    sink.process_batch(df, 0)
    with pytest.raises(ValueError, match="keep_manifest precondition"):
        sink.process_batch(df, 1)  # same ids again in a later batch
    for sub in ("matches", "keep", "signatures", "band_index"):
        assert not os.path.exists(os.path.join(base, sub, "batch_id=1")), sub
    assert os.path.isdir(os.path.join(base, "keep", "batch_id=0"))
