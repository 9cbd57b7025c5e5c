"""Headline benchmark run and the pipeline timing children.

``perfbench/`` is the repo's benchmark (``BENCHMARK.json``): its gated
workloads and ``--trace 1`` per-layer numbers are where stage timings come
from.  This file keeps three things:

Default mode (driver-invoked): headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
near-dup pipeline on a deterministic 20k-row synthetic corpus.  Prints ONE
JSON line::

    {"metric": "candidate_pairs_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1, ...}

``--pipeline-only``: one timed pipeline run (optionally on an explicit
``--master-str``), printed as one JSON line.

``--exec-scaling``: the same pipeline job in fresh ``--pipeline-only``
children on local-cluster masters with N and 4N real executor JVMs;
reports throughput at both plus the scaling efficiency.
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
    env-overridable for children at corpus sizes that need more than the
    1800 s default."""
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


def main() -> None:
    from mhap_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline-only", action="store_true")
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
    ap.add_argument("--scaling-reps", type=int, default=2,
                    help="interleaved child runs per level for --exec-scaling")
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
