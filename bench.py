"""Benchmark harness.

Default mode (driver-invoked): headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
near-dup pipeline on a deterministic 20k-row synthetic corpus.  Prints ONE
JSON line::

    {"metric": "candidate_pairs_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1, ...}

Scaling mode (``--scaling``): runs the identical pipeline job in fresh
subprocesses at local[8] and local[32] (the sandbox proxy for N vs 4N
executors, per BASELINE.md) and reports throughput at both plus the scaling
efficiency; use ``--write-baseline`` to also update BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PIPELINE_ROWS = 20_000


def _pair_recall(assign: dict[str, str], true_cluster, image_id) -> float:
    """Fraction of planted intra-cluster pairs co-clustered by the engine."""
    from collections import Counter, defaultdict

    by_true: dict[int, list[str]] = defaultdict(list)
    for img, c in zip(image_id, true_cluster):
        by_true[int(c)].append(img)
    hit = total = 0
    for members in by_true.values():
        m = len(members)
        if m < 2:
            continue
        total += m * (m - 1) // 2
        for n in Counter(assign[i] for i in members).values():
            hit += n * (n - 1) // 2
    return hit / total if total else 1.0


def _run_child(cmd: list[str]) -> dict:
    """Run a bench child process, surface its stderr on failure, parse the
    JSON result line (round-2 ADVICE: a crashed child used to die as an
    opaque IndexError with stderr discarded).  The guardrail timeout is
    env-overridable: the 1M-row 8-core stage child legitimately needs
    more than the 1800 s default."""
    timeout = int(os.environ.get("SPARK_GRAFT_BENCH_CHILD_TIMEOUT", "1800"))
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
    if out.returncode != 0:
        raise RuntimeError(
            f"bench child {cmd} exited {out.returncode}:\n{out.stderr[-4000:]}"
        )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"bench child {cmd} produced no JSON line; stderr:\n{out.stderr[-4000:]}"
        )
    return json.loads(lines[-1])


def _ship_package(spark) -> None:
    """Ship mhap_spark to executor python workers as a --py-files-style zip.

    Required for multi-JVM masters (local-cluster): cloudpickle serializes
    the Arrow-kernel closures BY REFERENCE to ``mhap_spark.*`` modules, so
    each executor's python worker must be able to import the package —
    exactly the ``spark-submit --py-files mhap_spark.zip`` deployment shape
    (tests/test_spark_submit.py proves the external path)."""
    import tempfile
    import zipfile

    repo = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.mkdtemp(prefix="mhap_pyfiles_"), "mhap_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(repo, "mhap_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, repo))
    spark.sparkContext.addPyFile(zip_path)


def run_pipeline_bench(
    cores: int, rows: int = PIPELINE_ROWS, warmup: bool = True, reps: int = 3,
    mega: int = 0, hints: str = "auto", master: str | None = None,
) -> dict:
    """Synth corpus → full pipeline (web-scale star preset at the reference's
    512-hash sketch config); returns timings, funnel counts, planted recall.

    ``mega`` plants one duplicate cluster of that size (boilerplate-caption
    adversary, ≫ the 512-row bucket cap) — the salted-oversize star path is
    then on the hot path and recall measures whether the capped cluster
    stays whole.

    A warmup pipeline run (10k rows, unmeasured) precedes the timed runs: JIT
    compilation dominates cold-JVM wall clock (measured 3-4× on the candidate
    stage), and real clusters run long-lived warm executors.  ``reps`` timed
    runs are taken and the minimum reported — this host shows 2-4× wall-clock
    swings between identical runs (BENCH/BASELINE.md), and min-of-N is the
    standard defense."""
    from mhap_spark.config import PRESET_SCALE, hints_default_for_rows
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.session import build_session
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

    # size-conditional no-broadcast hints (round-5 A/B: 13-25% cost below
    # 300k rows, OOM-protection needed from the measured 3M cliff);
    # hints="on"/"off" force it for config-isolation windows
    cfg = PRESET_SCALE.with_overrides(
        no_broadcast_hints=(
            hints == "on" if hints != "auto" else hints_default_for_rows(rows)
        )
    )
    corpus = generate_corpus(rows, seed=42, with_images=False, mega_cluster=mega)
    extra = None
    if master:
        # multi-JVM masters spawn executors that fork their own python
        # workers — pin them to this interpreter
        extra = {"spark.pyspark.python": sys.executable}
        if master.startswith("local-cluster["):
            # local-cluster[n, c, mem] sizes the WORKER's allotment; the
            # executor JVM still requests spark.executor.memory (default
            # 1 GiB) from it — claim the whole worker or the heap OOMs at
            # corpus scale while most of the granted memory sits unused
            mem_mb = master[len("local-cluster["):-1].split(",")[2].strip()
            extra["spark.executor.memory"] = f"{mem_mb}m"
    spark = build_session(
        f"bench_pipeline_{cores}",
        master=master or f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra=extra,
    )
    if master and master.startswith("local-cluster"):
        _ship_package(spark)
    if warmup:
        wdf = spark.createDataFrame(
            corpus_to_rows(generate_corpus(10_000, seed=1, with_images=False)),
            INPUT_SCHEMA_DDL,
        ).repartition(max(cores * 2, 8))
        wout = run_pipeline(spark, wdf, cfg)
        wout["clusters"].count()
        wout["signatures"].unpersist()
        wout["pairs"].unpersist()

    df = (
        spark.createDataFrame(corpus_to_rows(corpus), INPUT_SCHEMA_DDL)
        .repartition(max(cores * 2, 8))
        .persist()
    )
    df.count()  # materialize input outside the timed region

    def timed_rep(prev):
        """ONE measured rep — the single definition of the measurement
        protocol (cache drop → GC → settle → time run_pipeline to the
        clusters count), shared by the planned loop and the noise-defense
        extras so the two can never drift apart.

        Cache-drop rationale: shuffle files are only deleted when the
        ContextCleaner GCs the dead plan objects; with a large heap
        (3M-row legs run 96g) the JVM may never GC on its own, and three
        reps of ~30 GB shuffle overran the 80 GB scratch disk.  Explicit
        GC between reps keeps scratch bounded to one rep's live set —
        outside the timed region."""
        if prev is not None:  # drop the previous rep's caches for a clean rep
            prev[0]["signatures"].unpersist()
            prev[0]["pairs"].unpersist()
            prev[1].unpersist()
            spark.sparkContext._jvm.System.gc()
            time.sleep(3.0)
        t0 = time.time()
        o = run_pipeline(spark, df, cfg)
        c = o["clusters"].persist()
        c.count()  # pipeline fully materialized here (CC materializes pairs)
        all_elapsed.append(round(time.time() - t0, 2))
        return o, c

    all_elapsed, state = [], None
    for _ in range(max(reps, 1)):
        state = timed_rep(state)
    # noise defense for one-shot recorded runs: when the planned reps swing
    # hard (this box's documented storm class shows 1.5–3× intra-leg swings),
    # the min is likely still storm-inflated — buy up to 2 extra reps to give
    # a quiet window a chance to appear.  Quiet runs (swing < 1.4×) pay
    # nothing.  Only applies when ≥3 reps were requested (A/B callers that
    # pass reps=1/2 manage their own windows).
    while (
        reps >= 3
        and len(all_elapsed) < reps + 2
        and max(all_elapsed) / min(all_elapsed) > 1.4
    ):
        state = timed_rep(state)
    out, clusters = state
    elapsed = min(all_elapsed)

    # persisted by the pipeline and materialized by CC → cache-only count,
    # correctly outside the timed window
    n_pairs = out["pairs"].count()

    # evaluation (driver-side collect + python recall) is NOT pipeline work
    assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    n_clusters = len(set(assign.values()))
    recall = _pair_recall(assign, corpus["true_cluster"], corpus["image_id"])
    # funnel metrics rode the pairs job as an Observation — zero extra jobs
    funnel = dict(out["funnel_obs"].get)
    n_candidates = int(funnel["candidate_pairs_generated"] or 0)
    purity = {}
    if out.get("purity_obs") is not None:
        obs_in, obs_out = out["purity_obs"]
        n_in = int(dict(obs_in.get)["oversize_edges_to_verify"] or 0)
        n_out = int(dict(obs_out.get)["oversize_edges_verified"] or 0)
        purity = {
            "oversize_edges_to_verify": n_in,
            "oversize_edges_verified": n_out,
            "oversize_verify_purity": round(n_out / n_in, 4) if n_in else None,
        }
    spark.stop()
    return {
        "cores": cores,
        "rows": rows,
        "elapsed_s": round(elapsed, 2),
        "n_candidate_pairs": n_candidates,
        "n_verified_pairs": n_pairs,
        "n_clusters": n_clusters,
        "dup_pair_recall": round(recall, 5),
        "candidate_pairs_per_sec": round(n_candidates / elapsed, 1),
        "rows_per_sec": round(rows / elapsed, 1),
        "rep_elapsed_s": all_elapsed,
        "mega_cluster": mega,
        **purity,
    }


def run_hints_ab_bench(
    cores: int, rows_list: list[int], reps: int = 3
) -> dict:
    """Same-window interleaved A/B of the no-broadcast shuffle_hash hint set
    (round-4 VERDICT task 1): ON and OFF reps alternate inside ONE warm
    session per corpus size, so host-noise drift cannot masquerade as a hint
    cost.  Reports min-of-N per variant and the ON-vs-OFF delta — the price
    (or not) of the 3M-row broadcast-OOM fix at small scale."""
    from mhap_spark.config import PRESET_SCALE

    return run_cfg_ab_bench(
        cores,
        rows_list,
        {
            "hints_on": PRESET_SCALE,
            "hints_off": PRESET_SCALE.with_overrides(no_broadcast_hints=False),
        },
        reps=reps,
        tag="hints",
    )


def run_cfg_ab_bench(
    cores: int, rows_list: list[int], variants: dict, reps: int = 3,
    tag: str = "ab",
) -> dict:
    """Generic same-window interleaved config A/B: all variants' reps
    alternate inside ONE warm session per corpus size (host-noise drift
    cannot masquerade as a config cost); asserts identical outputs across
    variants and reports min-of-N per variant."""
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.session import build_session
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

    result: dict = {"cores": cores, "reps": reps, "sizes": {}}
    for rows in rows_list:
        spark = build_session(
            f"bench_{tag}_ab_{rows}",
            master=f"local[{cores}]",
            shuffle_partitions=max(cores, 8),
        )
        # warmup both variants (JIT + per-plan codegen are variant-specific)
        wdf = spark.createDataFrame(
            corpus_to_rows(generate_corpus(10_000, seed=1, with_images=False)),
            INPUT_SCHEMA_DDL,
        ).repartition(max(cores * 2, 8))
        for cfg in variants.values():
            wout = run_pipeline(spark, wdf, cfg)
            wout["clusters"].count()
            wout["signatures"].unpersist()
            wout["pairs"].unpersist()

        df = (
            spark.createDataFrame(
                corpus_to_rows(generate_corpus(rows, seed=42, with_images=False)),
                INPUT_SCHEMA_DDL,
            )
            .repartition(max(cores * 2, 8))
            .persist()
        )
        df.count()

        times: dict[str, list[float]] = {k: [] for k in variants}
        checks: dict[str, tuple] = {}
        for _ in range(max(reps, 1)):
            for name, cfg in variants.items():
                t0 = time.time()
                out = run_pipeline(spark, df, cfg)
                clusters = out["clusters"].persist()
                clusters.count()
                times[name].append(round(time.time() - t0, 2))
                checks[name] = (
                    out["pairs"].count(),
                    clusters.select("cluster_id").distinct().count(),
                )
                out["signatures"].unpersist()
                out["pairs"].unpersist()
                clusters.unpersist()
                spark.sparkContext._jvm.System.gc()
                time.sleep(2.0)
        names = list(variants)
        assert all(checks[n] == checks[names[0]] for n in names), checks
        entry: dict = {"pairs_and_clusters": list(checks[names[0]])}
        for n in names:
            entry[f"{n}_s"] = min(times[n])
            entry[f"{n}_reps"] = times[n]
        a, b = names[0], names[1]
        entry[f"{a}_vs_{b}_pct"] = round(
            (min(times[a]) - min(times[b])) / min(times[b]) * 100.0, 1
        )
        result["sizes"][str(rows)] = entry
        df.unpersist()
        spark.stop()
    return result


def run_stage_bench(cores: int, rows: int = PIPELINE_ROWS) -> dict:
    """Per-stage wall seconds with explicit materialization boundaries
    (persist+count between stages) — the decomposition BENCH/BASELINE.md
    reports per-stage scaling from.  Boundaries add cache traffic, so the
    stage sum exceeds the fused end-to-end time; ratios across core counts
    are the signal."""
    from mhap_spark.candidates import candidate_pairs
    from mhap_spark.cluster import connected_components
    from mhap_spark.config import PRESET_SCALE
    from mhap_spark.freq import FreqTable
    from mhap_spark.minhash import compute_signatures
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.session import build_session
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus
    from mhap_spark.verify import verified_pairs

    from mhap_spark.config import hints_default_for_rows

    cfg = PRESET_SCALE.with_overrides(no_broadcast_hints=hints_default_for_rows(rows))
    # shuffle_partitions = cores, same as run_pipeline_bench: the stage bench
    # previously inherited the session default of 4×cores, so the 32-core leg
    # ran 128 shuffle partitions against the 8-core leg's 32 — on this
    # single-disk host the extra shuffle files dominate the candidates stage
    # (BENCH/BASELINE.md: 32 partitions beat 128 by ~1.9× at 32 cores) and
    # manufactured the r3 "candidates anti-scaling" artifact (VERDICT task 2)
    spark = build_session(
        f"bench_stages_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    # JIT warmup (see run_pipeline_bench)
    wdf = spark.createDataFrame(
        corpus_to_rows(generate_corpus(10_000, seed=1, with_images=False)),
        INPUT_SCHEMA_DDL,
    ).repartition(max(cores * 2, 8))
    wout = run_pipeline(spark, wdf, cfg)
    wout["clusters"].count()
    wout["signatures"].unpersist()
    wout["pairs"].unpersist()

    df = (
        spark.createDataFrame(
            corpus_to_rows(generate_corpus(rows, seed=42, with_images=False)),
            INPUT_SCHEMA_DDL,
        )
        .repartition(max(cores * 2, 8))
        .persist()
    )
    df.count()

    # Per stage: COLD execution (timed), WARM execution (timed — a fresh
    # DataFrame with the same plan; nothing is persisted yet, so Spark's
    # CacheManager cannot serve it from cache), then persist+count to feed
    # the next stage (harness cost, untimed).  The WARM number is reported:
    # round-4 root-cause (tools/candidates_gc_probe.py) found a ~22 s
    # scale-INVARIANT first-execution overhead (plan codegen/JIT/shuffle
    # setup; gc_frac < 1%, zero spill at both core counts) that a one-shot
    # measurement folds into the stage time — at 32 cores it halved the
    # apparent speedup and manufactured r3's "candidates anti-scaling"
    # (warm candidates: 35.4→13.2 s, 2.67×/0.67 eff; cold: 1.67× at best).
    # NB a naive "re-count after persist" warm pass reads the cache instead
    # of recomputing (CacheManager matches identical analyzed plans), which
    # is why the persist happens strictly AFTER both timed runs.
    stages: dict[str, float] = {}
    cold: dict[str, float] = {}

    def timed(name: str, make) -> None:
        t = time.time()
        make().count()
        cold[name] = round(time.time() - t, 2)
        t = time.time()
        make().count()
        stages[name] = round(time.time() - t, 2)

    t = time.time()
    freq = FreqTable.compute(df, cfg)
    cold["df_table"] = round(time.time() - t, 2)
    t = time.time()
    FreqTable.compute(df, cfg)
    stages["df_table"] = round(time.time() - t, 2)

    timed("sketch", lambda: compute_signatures(df, cfg, freq))
    sigs = compute_signatures(df, cfg, freq).persist()
    sigs.count()

    timed("candidates", lambda: candidate_pairs(sigs, cfg))
    cands = candidate_pairs(sigs, cfg).persist()
    cands.count()

    timed("verify", lambda: verified_pairs(cands, sigs, cfg))
    pairs = verified_pairs(cands, sigs, cfg).persist()
    pairs.count()

    timed("cc", lambda: connected_components(pairs, sigs.select("image_id")))
    # the pipeline's configured CC path (driver union-find below the cutoff)
    timed(
        "cc_driver_finish",
        lambda: connected_components(
            pairs, sigs.select("image_id"),
            driver_finish_edges=cfg.cc_driver_finish_edges,
        ),
    )

    spark.stop()
    return {"cores": cores, "rows": rows, "stages": stages, "cold_stages": cold}


def run_store_filter_bench(
    cores: int,
    rows: int = 100_000,
    short_frac: float = 0.3,
    threshold: int = 60,
    reps: int = 2,
) -> dict:
    """min_store_shingles trade (VERDICT r3 task 6): pairs-mode pipeline on a
    short-row-heavy corpus (``short_frac`` of captions truncated to 8 chars —
    those rows keep only their ~49 phash shingles), symmetric index vs
    store-filtered index at ``threshold``.  Reports index band rows (the
    index size the filter exists to cut), wall-clock (min-of-N, interleaved),
    verified pairs, and planted recall per leg."""
    from mhap_spark.config import MhapConfig
    from mhap_spark.hashing import string_id_hash63
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.session import build_session
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

    import numpy as np

    corpus = generate_corpus(rows, seed=42, with_images=False)
    # deterministic 30%: truncate captions by id-hash (phash signal survives)
    short = (string_id_hash63(corpus["image_id"]) % np.uint64(100)) < np.uint64(
        int(short_frac * 100)
    )
    corpus["caption"] = [
        c[:8] if s else c for c, s in zip(corpus["caption"], short)
    ]
    base = MhapConfig(candidate_mode="pairs", num_bands=128, freq_sample_mod=4)
    spark = build_session(
        f"bench_store_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    df = (
        spark.createDataFrame(corpus_to_rows(corpus), INPUT_SCHEMA_DDL)
        .repartition(max(cores * 2, 8))
        .persist()
    )
    df.count()

    legs = {
        "symmetric": base,
        "store_filtered": base.with_overrides(min_store_shingles=threshold),
    }
    out: dict = {
        "rows": rows,
        "cores": cores,
        "short_frac": short_frac,
        "threshold": threshold,
    }
    times: dict[str, list[float]] = {k: [] for k in legs}
    for rep in range(reps):
        for name, cfg in legs.items():
            t0 = time.time()
            res = run_pipeline(spark, df, cfg)
            clusters = res["clusters"].persist()
            clusters.count()
            times[name].append(round(time.time() - t0, 2))
            if rep == reps - 1:
                from mhap_spark.candidates import exploded_bands
                from pyspark.sql import functions as F

                sigs = res["signatures"]
                stored = (
                    sigs.where(F.col("n_shingles") >= cfg.min_store_shingles)
                    if cfg.min_store_shingles > 0
                    else sigs
                )
                assign = {
                    r["image_id"]: r["cluster_id"] for r in clusters.collect()
                }
                out[name] = {
                    "index_rows": stored.count(),
                    "index_band_rows": exploded_bands(stored).count(),
                    "n_verified_pairs": res["pairs"].count(),
                    "dup_pair_recall": round(
                        _pair_recall(
                            assign, corpus["true_cluster"], corpus["image_id"]
                        ),
                        5,
                    ),
                }
            res["signatures"].unpersist()
            res["pairs"].unpersist()
            clusters.unpersist()
    for name in legs:
        out[name]["elapsed_s"] = min(times[name])
        out[name]["rep_elapsed_s"] = times[name]
    out["index_cut"] = round(
        1 - out["store_filtered"]["index_band_rows"] / out["symmetric"]["index_band_rows"], 4
    )
    out["speedup"] = round(
        out["symmetric"]["elapsed_s"] / out["store_filtered"]["elapsed_s"], 3
    )
    spark.stop()
    return out


def run_streaming_bench(
    cores: int, base_rows: int = 300_000, n_batches: int = 5, batch_rows: int = 2_000
) -> dict:
    """Incremental-ingest (-q production mode) per-batch cost: seed a
    ``base_rows`` signature index (batch 0), then run ``n_batches``
    micro-batches of ``batch_rows`` new rows through the exact foreachBatch
    function (IncrementalDedup.process_batch: sketch → intra-batch stage 1 →
    band-index probe → one verify → idempotent writes).  Reports
    per-batch seconds and rows/s against the accumulated index."""
    import shutil
    import tempfile

    from mhap_spark.config import PRESET_SCALE
    from mhap_spark.freq import FreqTable
    from mhap_spark.session import build_session
    from mhap_spark.streaming import IncrementalDedup
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

    # probe path needs pairs-mode vote semantics; keep the scale preset's
    # band subsampling + sampled df table
    cfg = PRESET_SCALE.with_overrides(candidate_mode="pairs")
    spark = build_session(
        f"bench_stream_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    base_dir = tempfile.mkdtemp(prefix="bench_stream_")
    corpus = generate_corpus(
        base_rows + n_batches * batch_rows, seed=42, with_images=False
    )
    rows_all = corpus_to_rows(corpus)

    base_df = (
        spark.createDataFrame(rows_all[:base_rows], INPUT_SCHEMA_DDL)
        .repartition(max(cores * 2, 8))
        .persist()
    )
    base_df.count()
    freq = FreqTable.compute(base_df, cfg)  # frozen corpus stats (prod pattern)
    sink = IncrementalDedup(base_dir, cfg, freq)

    t0 = time.time()
    sink.process_batch(base_df, 0)
    seed_s = round(time.time() - t0, 2)

    batch_s, match_counts = [], []
    for k in range(1, n_batches + 1):
        lo = base_rows + (k - 1) * batch_rows
        bdf = spark.createDataFrame(
            rows_all[lo : lo + batch_rows], INPUT_SCHEMA_DDL
        ).repartition(max(cores, 8))
        t0 = time.time()
        sink.process_batch(bdf, k)
        batch_s.append(round(time.time() - t0, 2))
        match_counts.append(
            spark.read.parquet(f"{sink.match_path}/batch_id={k}").count()
        )

    out = {
        "cores": cores,
        "base_rows": base_rows,
        "batch_rows": batch_rows,
        "seed_s": seed_s,
        "batch_s": batch_s,
        "batch_s_min": min(batch_s),
        "batch_rows_per_sec": round(batch_rows / min(batch_s), 1),
        "matches_per_batch": match_counts,
    }
    spark.stop()
    shutil.rmtree(base_dir, ignore_errors=True)
    return out


def run_query_bench(sf_dir: str, cores: int) -> dict:
    """Headline contract queries; per-query wall seconds."""
    import __spark_entry__ as entrymod
    from mhap_spark.session import build_session

    names = [
        "q1_pricing_summary",
        "revenue_by_nation",
        "topk_orders_per_customer",
        "supplier_vote_pairs",
        "word_df_ratio",
        "exact_dedup_docs",
        "word_jaccard_pairs",
        "token_stats",
        "quality_score",
        "cosine_topk",
        "embedding_near_dup",
        "events_hourly",
        "minhash_doc_pairs",
        "simhash_near_dup",
        "substring_dup_docs",
        "ivf_ann_neighbors",
        "doc_fingerprint",
        "lang_id",
    ]
    spark = build_session(
        "bench_queries", master=f"local[{cores}]", shuffle_partitions=max(cores, 8)
    )
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        _ = n
    spark.stop()
    return timings


def scaling_bench(
    rows: int,
    lo: int = 8,
    hi: int = 32,
    reps: int = 2,
    hints: str = "auto",
    child_reps: int | None = None,
) -> dict:
    """Same job at N and 4N cores, fresh warm JVM per leg (north-rule proxy).

    Legs are INTERLEAVED (lo,hi,lo,hi,…) and the best run per level is kept —
    this VM shows large host-noise swings (identical configs measured 103 s
    and 200 s an hour apart), and interleaving + min-of-N is the standard
    defense.  Correctness (recall, counts) is asserted identical across legs."""
    runs: dict[str, list[dict]] = {f"local[{lo}]": [], f"local[{hi}]": []}
    for _ in range(reps):
        for cores in (lo, hi):
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                "--pipeline-only",
                "--cores",
                str(cores),
                "--rows",
                str(rows),
                "--hints",
                hints,
            ]
            if child_reps:
                cmd += ["--reps", str(child_reps)]
            runs[f"local[{cores}]"].append(_run_child(cmd))
    results: dict = {}
    for level, rs in runs.items():
        # the docstring's correctness claim, enforced (same gate as
        # exec_scaling_bench): every rep at every level must produce the
        # same funnel counts and recall before any throughput is published
        counts = {
            (r["n_candidate_pairs"], r["n_verified_pairs"], r["n_clusters"],
             r["dup_pair_recall"])
            for r in rs
        }
        assert len(counts) == 1, f"output diverged across reps at {level}: {counts}"
        best = min(rs, key=lambda r: r["elapsed_s"])
        results[level] = {**best, "all_elapsed_s": [r["elapsed_s"] for r in rs]}
    assert (
        results[f"local[{lo}]"]["n_clusters"] == results[f"local[{hi}]"]["n_clusters"]
        and results[f"local[{lo}]"]["n_verified_pairs"]
        == results[f"local[{hi}]"]["n_verified_pairs"]
        and results[f"local[{lo}]"]["n_candidate_pairs"]
        == results[f"local[{hi}]"]["n_candidate_pairs"]
    ), "output diverged across core counts"
    t_lo = results[f"local[{lo}]"]["candidate_pairs_per_sec"]
    t_hi = results[f"local[{hi}]"]["candidate_pairs_per_sec"]
    results["cores_ratio"] = hi / lo
    results["throughput_ratio"] = round(t_hi / t_lo, 3)
    results["scaling_efficiency"] = round((t_hi / t_lo) / (hi / lo), 3)
    return results


def exec_scaling_bench(
    rows: int,
    execs_lo: int = 1,
    execs_hi: int = 4,
    exec_cores: int = 8,
    exec_mem_mb: int = 16384,
    reps: int = 2,
    child_reps: int | None = None,
    hints: str = "auto",
) -> dict:
    """The north rule's two-cluster-size criterion with REAL executor JVMs.

    ``local-cluster[n, c, m]`` is Spark's multi-executor test master: it
    spawns n worker processes, each hosting one executor JVM with c cores
    and m MB — separate heaps, separate GC, separate python-worker pools,
    shuffle fetched over netty between processes.  Comparing
    local-cluster[N,c,m] to local-cluster[4N,c,m] is therefore the closest
    sandbox realization of "N and 4N executors" — unlike local[8]→local[32]
    it also scales executor MEMORY 4×, exactly as adding machines to a real
    cluster does (each leg keeps the same per-executor resources).  Legs
    interleaved, min-of-N per level, correctness asserted identical."""
    masters = {
        n: f"local-cluster[{n},{exec_cores},{exec_mem_mb}]"
        for n in (execs_lo, execs_hi)
    }
    runs: dict[int, list[dict]] = {execs_lo: [], execs_hi: []}
    for _ in range(reps):
        for n in (execs_lo, execs_hi):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--pipeline-only",
                "--cores", str(n * exec_cores),
                "--rows", str(rows),
                "--master-str", masters[n],
                "--hints", hints,
            ]
            if child_reps:
                cmd += ["--reps", str(child_reps)]
            runs[n].append(_run_child(cmd))
    results: dict = {"rows": rows, "exec_cores": exec_cores,
                     "exec_mem_mb": exec_mem_mb}
    for n, rs in runs.items():
        counts = {
            (r["n_candidate_pairs"], r["n_verified_pairs"], r["n_clusters"])
            for r in rs
        }
        assert len(counts) == 1, f"output diverged across reps at {n} executors"
        best = min(rs, key=lambda r: r["elapsed_s"])
        results[f"executors={n}"] = {**best, "all_elapsed_s": [r["elapsed_s"] for r in rs]}
    # the full funnel must match across executor counts — a divergence in
    # verify or CC with equal candidate counts would otherwise slip through
    lo_counts = tuple(
        results[f"executors={execs_lo}"][k]
        for k in ("n_candidate_pairs", "n_verified_pairs", "n_clusters")
    )
    hi_counts = tuple(
        results[f"executors={execs_hi}"][k]
        for k in ("n_candidate_pairs", "n_verified_pairs", "n_clusters")
    )
    assert lo_counts == hi_counts, "output diverged across executor counts"
    t_lo = results[f"executors={execs_lo}"]["candidate_pairs_per_sec"]
    t_hi = results[f"executors={execs_hi}"]["candidate_pairs_per_sec"]
    results["executors_ratio"] = execs_hi / execs_lo
    results["throughput_ratio"] = round(t_hi / t_lo, 3)
    results["scaling_efficiency"] = round(
        (t_hi / t_lo) / (execs_hi / execs_lo), 3
    )
    return results


def stage_scaling_bench(rows: int, lo: int = 8, hi: int = 32, reps: int = 2) -> dict:
    """Per-stage seconds at both parallelism levels (interleaved, min-of-N —
    see scaling_bench) plus per-stage speedup and efficiency."""
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    for _ in range(reps):
        for cores in (lo, hi):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--stages-only", "--cores", str(cores), "--rows", str(rows),
            ]
            runs[cores].append(_run_child(cmd))
    result: dict = {"rows": rows}
    names = list(runs[lo][0]["stages"])
    best = {
        c: {s: min(r["stages"][s] for r in runs[c]) for s in names} for c in (lo, hi)
    }
    result[f"local[{lo}]"] = best[lo]
    result[f"local[{hi}]"] = best[hi]
    result["speedup"] = {
        s: round(best[lo][s] / best[hi][s], 2) if best[hi][s] else None for s in names
    }
    result["efficiency"] = {
        s: round((best[lo][s] / best[hi][s]) / (hi / lo), 3) if best[hi][s] else None
        for s in names
    }
    return result


def main() -> None:
    from mhap_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--stages-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--store-filter", action="store_true")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--stage-scaling", action="store_true")
    ap.add_argument("--hints-ab", action="store_true",
                    help="interleaved no-broadcast-hints ON/OFF A/B")
    ap.add_argument("--ab-rows", type=str, default="20000,300000",
                    help="comma-separated corpus sizes for --hints-ab")
    ap.add_argument("--rows", type=int, default=PIPELINE_ROWS)
    ap.add_argument("--mega", type=int, default=0,
                    help="plant one duplicate cluster of this size")
    ap.add_argument("--reps", type=int, default=3,
                    help="timed pipeline reps (min reported)")
    ap.add_argument("--hints", choices=["auto", "on", "off"], default="auto",
                    help="force no_broadcast_hints instead of the size rule")
    ap.add_argument("--cores", type=int, default=default_cores())
    ap.add_argument("--master-str", default=None,
                    help="explicit master for --pipeline-only (e.g. "
                    "local-cluster[4,8,16384] for real executor JVMs)")
    ap.add_argument("--exec-scaling", action="store_true",
                    help="N vs 4N REAL executor JVMs via local-cluster")
    ap.add_argument("--execs", type=str, default="1,4",
                    help="lo,hi executor counts for --exec-scaling")
    ap.add_argument("--exec-cores", type=int, default=8)
    ap.add_argument("--exec-mem-mb", type=int, default=16384)
    ap.add_argument("--lo", type=int, default=8, help="low core count for --scaling")
    ap.add_argument("--hi", type=int, default=32, help="high core count for --scaling")
    ap.add_argument("--scaling-reps", type=int, default=2,
                    help="interleaved child runs per level for --scaling")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    except ValueError:
        sf = None  # cosmetic output field only — a non-sfN dir must not abort

    if args.pipeline_only:
        print(
            json.dumps(
                run_pipeline_bench(
                    args.cores, args.rows, mega=args.mega, reps=args.reps,
                    hints=args.hints, master=args.master_str,
                )
            )
        )
        return

    if args.exec_scaling:
        lo, hi = (int(x) for x in args.execs.split(","))
        print(
            json.dumps(
                exec_scaling_bench(
                    args.rows, execs_lo=lo, execs_hi=hi,
                    exec_cores=args.exec_cores, exec_mem_mb=args.exec_mem_mb,
                    reps=args.scaling_reps, child_reps=args.reps,
                    hints=args.hints,
                ),
                indent=1,
            )
        )
        return

    if args.stages_only:
        print(json.dumps(run_stage_bench(args.cores, args.rows)))
        return

    if args.scaling:
        print(
            json.dumps(
                scaling_bench(
                    args.rows,
                    lo=args.lo,
                    hi=args.hi,
                    reps=args.scaling_reps,
                    hints=args.hints,
                    child_reps=args.reps,
                ),
                indent=1,
            )
        )
        return

    if args.store_filter:
        print(json.dumps(run_store_filter_bench(args.cores, args.rows)))
        return

    if args.streaming:
        print(json.dumps(run_streaming_bench(args.cores)))
        return

    if args.stage_scaling:
        print(
            json.dumps(
                stage_scaling_bench(
                    args.rows, lo=args.lo, hi=args.hi, reps=args.scaling_reps
                ),
                indent=1,
            )
        )
        return

    if args.hints_ab:
        rows_list = [int(x) for x in args.ab_rows.split(",") if x]
        print(json.dumps(run_hints_ab_bench(args.cores, rows_list, reps=args.reps)))
        return

    t_all = time.time()
    pipe = run_pipeline_bench(args.cores, args.rows)
    queries = run_query_bench(sf_dir, args.cores)
    queries["mhap_pipeline_20k"] = pipe["elapsed_s"]
    total = round(time.time() - t_all, 2)
    print(
        json.dumps(
            {
                "metric": "candidate_pairs_per_sec",
                "value": pipe["candidate_pairs_per_sec"],
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "pipeline": pipe,
                "total_bench_s": total,
            }
        )
    )


if __name__ == "__main__":
    main()
