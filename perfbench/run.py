"""mhap_spark benchmark: named workloads, gated end-to-end metrics, and a
separate traced run for per-layer numbers.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch_star_20k --seed 42 \\
        --seconds 5 --trace 0

One caller drives each workload in a closed loop: a single process on a
``local[nproc]`` session issues one engine call at a time and waits for it
to finish.  Inputs come from ``mhap_spark.synth`` and the ``--seed``
argument; the engine only ever sees the resulting DataFrame.  Every output
is checked, and the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs with the Spark event log on, calls each layer on its
own under a job group, and reports the per-layer metrics.  The line before
the result holds the host, seed, counts and per-call times; the traced run
also writes its spans to ``.perfbench/spans_<workload>_<seed>.json``.
The exit code is non-zero when any call or output check failed.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

DEFAULT_SEED = 42
# confirms later claims on inputs not used while a change was written
HELDOUT_SEED = 1042
# warm-up inputs are generated from a different seed than the measured ones
WARM_SEED_OFFSET = 7919

# Sizes per workload; ``tiny`` is the smoke-test scale.  At least
# ``min_calls`` timed calls follow the warm-up, and every call must repeat the
# first call's counts.  The sizes keep a run near a minute, because the
# benchmark's run budget (4 + 22 runs per gated workload) is 3,420 s; so
# ``batch_star_20k`` times one call after a 10,000-row warm-up (as bench.py
# does) and its repeat determinism is checked by the traced run, which runs
# the same input twice, and by the recorded counts at the default seed.  A
# stream call is one ``process_batch`` after an unmeasured warm-up pass,
# whose counts it must repeat.
WORKLOADS = {
    "batch_star_20k": {
        "kind": "batch", "rows": 20_000, "mega": 0, "store": False,
        "warm_rows": 10_000, "cfg": {}, "min_calls": 1,
        "tiny": {"rows": 1_500, "warm_rows": 500},
    },
    "batch_mega_loop": {
        "kind": "batch", "rows": 20_000, "mega": 3_000, "store": True,
        "warm_rows": 5_000, "cfg": {"cc_driver_finish_edges": 0}, "min_calls": 2,
        "tiny": {"rows": 1_500, "mega": 300, "warm_rows": 500},
    },
    "stream_ingest": {
        "kind": "stream", "index_rows": 1_000, "batch_rows": 100, "batches": 1,
        "min_calls": 1,
        "tiny": {"index_rows": 800, "batch_rows": 200},
    },
}

# Funnel counts recorded from the seed commit at the default seed (ROADMAP
# invariants).  At any other seed the checks are recall and identical
# counts across repeated calls.
EXPECTED = {
    ("batch_star_20k", 42): {
        "candidates_generated": 1_756_482, "verified_pairs": 56_733,
        "clusters": 2_839, "recall": 1.0,
    },
    ("batch_mega_loop", 42): {
        "candidates_generated": 1_871_350, "verified_pairs": 71_908,
        "clusters": 2_500, "recall": 1.0, "oversize_purity": 1.0,
    },
}
MIN_RECALL = 0.99


# --------------------------------------------------------------------- host


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))


def host_info(spark) -> dict:
    def git_head() -> str | None:
        if not os.path.exists(os.path.join(ROOT, ".git")):
            return None
        try:
            out = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            )
        except (OSError, subprocess.SubprocessError):
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(_mem_total_kb() / 1024 / 1024, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "commit": git_head(),
        "engine_sha256": engine_digest(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def engine_digest() -> str:
    """Digest of the engine's sources: identifies the code under test where
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mhap_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def driver_memory() -> str:
    """A quarter of the host's RAM, at most 4 GiB (the workloads need less):
    the session default asks for 32g, more than many hosts have."""
    return f"{max(1, min(4, _mem_total_kb() // (4 * 1024 * 1024)))}g"


class RssSampler:
    """Peak resident memory of the Spark JVM and every process under it
    (the Python workers), sampled from /proc every 0.2 s."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next(
                        (int(l.split()[1]) for l in f if l.startswith("VmRSS:")), 0
                    )
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(0.2)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ bookkeeping


class Run:
    """Checks, spans and per-call records of one invocation."""

    def __init__(self, workload: str, seed: int, trace: bool, expect: dict):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.expect = expect
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spans: list[dict] = []
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = time.perf_counter()

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def span(self, name: str, parent: str | None = None) -> "Span":
        return Span(self, name, parent)

    def expected_counts(self, tiny: bool) -> dict:
        base = {} if tiny else dict(EXPECTED.get((self.workload, self.seed), {}))
        base.update(self.expect)
        return base


class Span:
    """Times one layer call; on exit records name, start, end (seconds
    since the run began), parent span name and run id."""

    def __init__(self, run: Run, name: str, parent: str | None):
        self.run, self.name, self.parent = run, name, parent

    def __enter__(self) -> "Span":
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        self.end = time.perf_counter()
        self.run.spans.append({
            "run_id": self.run.run_id, "name": self.name, "parent": self.parent,
            "start": self.start - self.run.t0, "end": self.end - self.run.t0,
        })
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def input_frame(spark, rows: list[tuple], parts: int):
    """The engine's input DataFrame from ``synth.corpus_to_rows`` output
    (built for its schema, so Spark's per-row Python check is skipped)."""
    from mhap_spark.synth import INPUT_SCHEMA_DDL

    return spark.createDataFrame(
        rows, INPUT_SCHEMA_DDL, verifySchema=False
    ).repartition(parts)


def materialize(df):
    df = df.persist()
    df.count()
    return df


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


# ------------------------------------------------------------------ batch


def batch_workload(spark, spec: dict, run: Run, seconds: float, tiny: bool) -> dict:
    import bench
    from pyspark.sql import Observation
    from mhap_spark.candidates import candidate_pairs
    from mhap_spark.checkpoint import CheckpointStore
    from mhap_spark.cluster import connected_components
    from mhap_spark.config import PRESET_SCALE, hints_default_for_rows
    from mhap_spark.freq import FreqTable
    from mhap_spark.minhash import compute_signatures
    from mhap_spark.pipeline import run_pipeline
    from mhap_spark.synth import corpus_to_rows, generate_corpus
    from mhap_spark.verify import verified_pairs

    rows = spec["rows"]
    cfg = PRESET_SCALE.with_overrides(
        no_broadcast_hints=hints_default_for_rows(rows), **spec["cfg"]
    )
    parts = max(2 * spark.sparkContext.defaultParallelism, 8)
    store_root = os.path.join(WORK, "checkpoints")
    setup: dict[str, float] = {}

    def fresh_store():
        if not spec["store"]:
            return None
        shutil.rmtree(store_root, ignore_errors=True)
        return CheckpointStore(store_root)

    def release(out: dict, clusters) -> None:
        if not spec["store"]:
            out["signatures"].unpersist()
            out["pairs"].unpersist()
            clusters.unpersist()

    with run.span("setup.corpus", "setup") as s:
        corpus = generate_corpus(
            rows, seed=run.seed, with_images=False, mega_cluster=spec["mega"]
        )
        input_rows = corpus_to_rows(corpus)
    setup["corpus"] = s.seconds
    # the input build is repeated and its median taken (setup_s is gated)
    builds = []
    df = None
    for _ in range(3):
        if df is not None:
            df.unpersist()
        with run.span("setup.input", "setup") as s:
            df = materialize(input_frame(spark, input_rows, parts))
        builds.append(s.seconds)
    setup["input"] = statistics.median(builds)

    with run.span("setup.warmup", "setup") as s:
        warm = materialize(input_frame(spark, corpus_to_rows(generate_corpus(
            spec["warm_rows"], seed=run.seed + WARM_SEED_OFFSET, with_images=False,
            mega_cluster=spec["mega"] * spec["warm_rows"] // rows,
        )), parts))
        wout = run_pipeline(spark, warm, cfg, store=fresh_store())
        wclusters = wout["clusters"] if spec["store"] else wout["clusters"].persist()
        wclusters.count()
        release(wout, wclusters)
        warm.unpersist()
    setup["warmup"] = s.seconds

    calls: list[float] = []
    traced_calls: list[float] = []
    reps: list[dict] = []
    layer_spans: list[dict] = []
    first: dict | None = None
    expected = run.expected_counts(tiny)

    def check_counts(counts: dict, label: str) -> None:
        nonlocal first
        if first is None:
            first = counts
            for k, v in expected.items():
                run.check(f"{label} {k}={counts.get(k)} expected {v}", counts.get(k) == v)
        else:
            for k in ("verified_pairs", "clusters"):
                run.check(
                    f"{label} {k}={counts[k]} differs from first call {first[k]}",
                    counts[k] == first[k],
                )

    def untraced_call(i: int) -> None:
        group = f"pipeline:{i}" if run.trace else None
        set_group(spark, group)
        store = fresh_store()
        try:
            with run.span("pipeline", None) as s:
                out = run_pipeline(spark, df, cfg, store=store)
                clusters = out["clusters"] if store else out["clusters"].persist()
                clusters.count()
        finally:
            set_group(spark, None)
        calls.append(s.seconds)
        n_pairs = out["pairs"].count()
        assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
        recall = bench._pair_recall(assign, corpus["true_cluster"], corpus["image_id"])
        funnel = dict(out["funnel_obs"].get)
        counts = {
            "candidates_generated": int(funnel["candidate_pairs_generated"] or 0),
            "max_bucket": int(funnel["max_bucket_size_seen"] or 0),
            "verified_pairs": n_pairs,
            "clusters": len(set(assign.values())),
            "recall": round(recall, 6),
        }
        if out.get("purity_obs") is not None:
            n_in = int(dict(out["purity_obs"][0].get)["oversize_edges_to_verify"] or 0)
            n_out = int(dict(out["purity_obs"][1].get)["oversize_edges_verified"] or 0)
            counts["oversize_edges_to_verify"] = n_in
            counts["oversize_purity"] = round(n_out / n_in, 6) if n_in else None
        run.check(f"call {i} recall {recall:.5f} < {MIN_RECALL}", recall >= MIN_RECALL)
        check_counts(counts, f"call {i}")
        reps.append({"call_s": s.seconds, **counts})
        release(out, clusters)

    def traced_call(i: int) -> None:
        """The pipeline's layers called one at a time, each under its own
        job group with one materializing action; with a checkpoint store
        each layer's result is materialized first and then written, so
        ``checkpoint`` spans hold only the write."""
        store = fresh_store()
        ch = cfg.config_hash()
        held = []
        times: dict[str, float] = {}

        def layer(name: str, fn):
            set_group(spark, f"{name}:{i}")
            try:
                with run.span(name, "pipeline.traced") as s:
                    result = fn()
            finally:
                set_group(spark, None)
            times[name] = times.get(name, 0.0) + s.seconds
            return result

        def keep(d):
            held.append(d)
            return materialize(d)

        def checkpoint(d, stage: str):
            if store is None:
                return d
            return layer("checkpoint", lambda: store.write(d, stage, ch))

        with run.span("pipeline.traced", None) as total:
            freq = layer("freq", lambda: FreqTable.compute(df, cfg))
            sigs = layer("minhash", lambda: keep(compute_signatures(df, cfg, freq)))
            sigs = checkpoint(sigs, "signatures")
            obs = Observation()
            cands = layer(
                "candidates",
                lambda: keep(candidate_pairs(sigs, cfg, funnel_obs=obs)),
            )
            pairs = layer("verify", lambda: keep(verified_pairs(cands, sigs, cfg)))
            pairs = checkpoint(pairs, "pairs")
            clusters = layer("cluster", lambda: keep(connected_components(
                pairs, sigs.select("image_id"), max_iters=cfg.cc_max_iters,
                driver_finish_edges=cfg.cc_driver_finish_edges,
                no_broadcast_hints=cfg.no_broadcast_hints,
            )))
            clusters = checkpoint(clusters, "clusters")
        traced_calls.append(total.seconds)
        funnel = dict(obs.get)
        counts = {
            "freq_table_rows": len(freq.keys),
            "candidates_generated": int(funnel["candidate_pairs_generated"] or 0),
            "candidates_gated": cands.count(),
            "max_bucket": int(funnel["max_bucket_size_seen"] or 0),
            "verified_pairs": pairs.count(),
            "clusters": clusters.select("cluster_id").distinct().count(),
            "checkpoint_mb": dir_mb(store_root) if store else 0.0,
        }
        check_counts(counts, f"traced call {i}")
        layer_spans.append({
            **times, "total": total.seconds, "call_s": calls[-1], **counts,
        })
        for d in held:
            d.unpersist()

    t_measure = time.perf_counter()
    i = 0
    # a traced call is one untraced pipeline plus one traced one
    min_calls = 1 if run.trace else spec["min_calls"]
    while i < min_calls or time.perf_counter() - t_measure < seconds:
        try:
            untraced_call(i)
            if run.trace:
                traced_call(i)
            run.check(f"call {i}", True)
        except Exception as e:  # a failed engine call is counted, not fatal
            run.check(f"call {i} raised {type(e).__name__}: {e}", False)
        i += 1
    df.unpersist()
    return {
        "setup": setup, "calls": calls, "traced_calls": traced_calls,
        "reps": reps, "layers": layer_spans, "rows": rows,
    }


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# ----------------------------------------------------------------- stream


def stream_workload(spark, spec: dict, run: Run, seconds: float, tiny: bool) -> dict:
    import eventlog
    import numpy as np
    from mhap_spark import streaming
    from mhap_spark.config import PRESET_SCALE
    from mhap_spark.freq import FreqTable
    from mhap_spark.streaming import IncrementalDedup
    from mhap_spark.synth import corpus_to_rows, generate_corpus

    cfg = PRESET_SCALE.with_overrides(candidate_mode="pairs")
    cores = spark.sparkContext.defaultParallelism
    n_index, b, n_batches = spec["index_rows"], spec["batch_rows"], spec["batches"]
    stream_root = os.path.join(WORK, "stream")
    shutil.rmtree(stream_root, ignore_errors=True)
    setup: dict[str, float] = {}

    def arrivals(n: int, seed: int):
        """Corpus rows in a seeded random arrival order, with each row's
        planted cluster."""
        corpus = generate_corpus(n, seed=seed, with_images=False)
        order = np.random.default_rng(seed).permutation(n)
        rows = corpus_to_rows(corpus)
        return [rows[j] for j in order], corpus["true_cluster"][order]

    def seed_index(rows, path: str):
        idx = materialize(input_frame(spark, rows, max(2 * cores, 8)))
        set_group(spark, "freq:setup" if run.trace else None)
        with run.span("setup.freq", "setup") as s:
            freq = FreqTable.compute(idx, cfg)
        set_group(spark, None)
        IncrementalDedup(
            path, cfg, freq, band_index=True, keep_manifest=True
        ).process_batch(idx, 0)
        idx.unpersist()
        return freq, s.seconds

    with run.span("setup.corpus", "setup") as s:
        rows, truth = arrivals(n_index + n_batches * b, run.seed)
    setup["corpus"] = s.seconds
    seed_dir = os.path.join(stream_root, "seeded")
    with run.span("setup.seed_index", "setup") as s:
        freq, freq_s = seed_index(rows[:n_index], seed_dir)
    setup["seed_index"] = s.seconds

    batch_frames = [
        input_frame(spark, rows[n_index + k * b: n_index + (k + 1) * b], max(cores, 8))
        for k in range(n_batches)
    ]
    ids = [r[0] for r in rows]
    expected_pairs = []
    members: dict[int, list[str]] = {}
    for pos, (img, c) in enumerate(zip(ids, truth)):
        earlier = members.setdefault(int(c), [])
        if pos >= n_index:
            k = (pos - n_index) // b
            if k == len(expected_pairs):
                expected_pairs.append(set())
            expected_pairs[k].update((min(img, o), max(img, o)) for o in earlier)
        earlier.append(img)

    batch_s: list[float] = []
    traced_s: list[float] = []
    copies: list[float] = []
    layers: list[dict] = []
    recall = {"hits": 0, "total": 0}
    rep_dir = os.path.join(stream_root, "rep")

    def one_pass(rep: int, traced: bool) -> tuple[list[int], list[float]]:
        """Every batch, in order, against a fresh copy of the seeded index."""
        shutil.rmtree(rep_dir, ignore_errors=True)
        with run.span("setup.index_copy", "setup") as s:
            shutil.copytree(seed_dir, rep_dir)
        copies.append(s.seconds)
        sink = IncrementalDedup(rep_dir, cfg, freq, band_index=True, keep_manifest=True)
        counts, seconds_ = [], []
        for k in range(1, n_batches + 1):
            group = f"batch:{rep}:{k}" if traced else None
            set_group(spark, group)
            sampler = (
                eventlog.CallSiteSampler(streaming.__file__, threading.current_thread())
                if traced else contextlib.nullcontext()
            )
            try:
                with run.span("process_batch", None) as s, sampler:
                    sink.process_batch(batch_frames[k - 1], k)
                run.check(f"pass {rep} batch {k}", True)
            except Exception as e:  # a failed batch is counted, not fatal
                run.check(f"pass {rep} batch {k} raised {type(e).__name__}: {e}", False)
                counts.append(-1)
                continue
            finally:
                set_group(spark, None)
            seconds_.append(s.seconds)
            m = spark.read.parquet(os.path.join(sink.match_path, f"batch_id={k}"))
            if rep == 0:
                found = m.select("src", "dst").toPandas()
                got = set(zip(
                    found[["src", "dst"]].min(axis=1), found[["src", "dst"]].max(axis=1)
                ))
                exp = expected_pairs[k - 1]
                recall["hits"] += len(exp & got)
                recall["total"] += len(exp)
                counts.append(len(found))
            else:
                counts.append(m.count())
            if traced:
                layers.append({
                    "group": group, "batch_s": s.seconds, "matches": counts[-1],
                    "callsites": sampler,
                })
        return counts, seconds_

    # pass 0 warms up: the seeding call never takes the probe path
    with run.span("setup.warmup", "setup") as s:
        first_counts, _ = one_pass(0, False)
    setup["warmup"] = s.seconds
    for key, v in run.expected_counts(tiny).items():
        got_v = {"matches_batch1": first_counts[0]}.get(key)
        run.check(f"{key}={got_v} expected {v}", got_v == v)
    # traced runs alternate untraced and traced passes over the same
    # batches, so trace.overhead_s compares like with like
    min_passes = 2 if run.trace else spec["min_calls"]
    t_measure = time.perf_counter()
    rep = 1
    while rep <= min_passes or time.perf_counter() - t_measure < seconds:
        traced = run.trace and rep % 2 == 0
        counts, secs = one_pass(rep, traced)
        (traced_s if traced else batch_s).extend(secs)
        run.check(
            f"pass {rep} per-batch matches {counts} differ from {first_counts}",
            counts == first_counts,
        )
        rep += 1
    recall = recall["hits"] / recall["total"] if recall["total"] else 1.0
    run.check(f"stream recall {recall:.5f} < {MIN_RECALL}", recall >= MIN_RECALL)
    setup["index_copy"] = statistics.median(copies[1:])
    return {
        "setup": setup, "calls": batch_s, "traced_calls": traced_s,
        "matches_per_batch": first_counts, "recall": recall,
        "rows": b, "layers": layers, "freq_s": freq_s,
        "freq_table_rows": len(freq.keys),
    }


# ---------------------------------------------------------------- metrics


def end_to_end(kind: str, res: dict, session_s: float) -> dict:
    calls = res["calls"]
    if not calls:
        raise RuntimeError("no engine call completed")
    if kind == "batch":
        recall = statistics.median(r["recall"] for r in res["reps"])
    else:
        recall = res["recall"]
    return {
        "setup_s": session_s + sum(res["setup"].values()),
        "rows_per_s": res["rows"] / statistics.median(calls),
        "pair_recall": recall,
    }


def per_layer(
    names: list[str], kind: str, res: dict, session_s: float, peak_mb: float,
    log_dir: str, cores: int,
) -> dict:
    """Every metric in ``names``; a layer the workload does not run is 0."""
    import eventlog

    parsed = eventlog.load(log_dir)
    everything = eventlog.group_summary(parsed, lambda j: True)
    m = {name: 0.0 for name in names}
    m["session.build_s"] = session_s
    m["spark.peak_rss_mb"] = peak_mb
    m["spark.failed_tasks"] = everything["failed_tasks"]
    m["spark.spill_mb"] = everything["spill_mb"]
    med = statistics.median

    def layer_stats(layer: str, reps: int) -> list[dict]:
        return [
            eventlog.group_summary(parsed, lambda j, g=f"{layer}:{i}": j["group"] == g)
            for i in range(reps)
        ]

    if kind == "batch":
        spans = res["layers"]
        n = len(spans)
        for layer in ("freq", "minhash", "candidates", "verify", "cluster"):
            st = layer_stats(layer, n)
            m[f"{layer}.s"] = med(s[layer] for s in spans)
            m[f"{layer}.task_s"] = med(s["task_s"] for s in st)
            if layer == "freq":
                m["freq.shuffle_write_mb"] = med(s["shuffle_write_mb"] for s in st)
            if layer == "minhash":
                m["minhash.gc_s"] = med(s["gc_s"] for s in st)
            if layer == "candidates":
                m["candidates.shuffle_write_mb"] = med(s["shuffle_write_mb"] for s in st)
                m["candidates.skew"] = med(s["skew"] for s in st)
            if layer == "verify":
                m["verify.shuffle_read_mb"] = med(s["shuffle_read_mb"] for s in st)
            if layer == "cluster":
                m["cluster.jobs"] = med(s["jobs"] for s in st)
                m["cluster.shuffle_mb"] = med(
                    s["shuffle_read_mb"] + s["shuffle_write_mb"] for s in st
                )
                m["cluster.skew"] = med(s["skew"] for s in st)
        m["freq.table_rows"] = spans[0]["freq_table_rows"]
        m["minhash.rows_per_s"] = res["rows"] / m["minhash.s"]
        m["candidates.generated"] = spans[0]["candidates_generated"]
        m["candidates.gated"] = spans[0]["candidates_gated"]
        m["candidates.max_bucket"] = spans[0]["max_bucket"]
        m["candidate_pairs_per_sec"] = spans[0]["candidates_generated"] / med(res["calls"])
        m["verify.pairs_in"] = spans[0]["candidates_gated"]
        m["verify.pairs_out"] = spans[0]["verified_pairs"]
        m["verify.yield"] = m["verify.pairs_out"] / max(m["verify.pairs_in"], 1)
        m["cluster.edges_in"] = spans[0]["verified_pairs"]
        if "checkpoint" in spans[0]:
            m["checkpoint.write_s"] = med(s["checkpoint"] for s in spans)
            m["checkpoint.bytes_mb"] = spans[0]["checkpoint_mb"]
        pipe = layer_stats("pipeline", n)
        m["pipeline.jobs"] = med(s["jobs"] for s in pipe)
        m["pipeline.slot_idle_frac"] = med(
            1.0 - s["task_s"] / (c * cores) for s, c in zip(pipe, res["calls"])
        )
        m["pipeline.overhead_s"] = med(
            s["total"] - sum(s.get(k, 0.0) for k in LAYER_SPANS) for s in spans
        )
        m["trace.overhead_s"] = med(s["total"] - s["call_s"] for s in spans)
    else:
        freq = eventlog.group_summary(parsed, lambda j: j["group"] == "freq:setup")
        m["freq.s"] = res["freq_s"]
        m["freq.task_s"] = freq["task_s"]
        m["freq.shuffle_write_mb"] = freq["shuffle_write_mb"]
        m["freq.table_rows"] = res["freq_table_rows"]
        sub = eventlog.streaming_sublayers()
        per_batch: dict[str, list[float]] = {k: [] for k in STREAM_SUBLAYERS}
        jobs, input_mb = [], []
        for b in res["layers"]:
            for name in STREAM_SUBLAYERS:
                per_batch[name].append(eventlog.group_summary(
                    parsed,
                    lambda j, b=b, n=name: j["group"] == b["group"]
                    and eventlog.sublayer_of(b["callsites"].line_during(j), sub) == n,
                )["job_s"])
            whole = eventlog.group_summary(parsed, lambda j, g=b["group"]: j["group"] == g)
            jobs.append(whole["jobs"])
            input_mb.append(whole["input_mb"])
        if res["layers"]:
            for name in STREAM_SUBLAYERS:
                m[f"streaming.{name}_s"] = med(per_batch[name])
            m["streaming.jobs_per_batch"] = med(jobs)
            m["streaming.input_mb_per_batch"] = med(input_mb)
            m["streaming.matches_per_batch"] = med(b["matches"] for b in res["layers"])
            m["trace.overhead_s"] = med(res["traced_calls"]) - med(res["calls"])
    return m


LAYER_SPANS = ("freq", "minhash", "candidates", "verify", "cluster", "checkpoint")
STREAM_SUBLAYERS = ("probe", "verify_write", "manifest", "index_write")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------- main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument(
        "--seed", type=int, default=DEFAULT_SEED,
        help=f"input seed (default {DEFAULT_SEED}; {HELDOUT_SEED} is held out "
        "for confirming claims)",
    )
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true",
        help="smoke-test sizes (the recorded funnel counts do not apply)",
    )
    ap.add_argument(
        "--expect", action="append", default=[], metavar="NAME=COUNT",
        help="also require this count on the first call (e.g. verified_pairs=56733)",
    )
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import bench
        import eventlog  # noqa: F401
        import mhap_spark.pipeline
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    for mod in (bench, mhap_spark.pipeline):
        if not os.path.abspath(mod.__file__).startswith(ROOT + os.sep):
            print(f"{mod.__name__} is not imported from {ROOT}", file=sys.stderr)
            return 2
    wanted = load_spec()["per_layer" if args.trace else "end_to_end"]

    expect = {}
    for item in args.expect:
        key, _, val = item.partition("=")
        expect[key] = json.loads(val)

    spec = dict(WORKLOADS[args.workload])
    if args.tiny:
        spec.update(spec["tiny"])
    run = Run(args.workload, args.seed, bool(args.trace), expect)

    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, sub))
    log_dir = os.path.join(WORK, "eventlog")
    # Spark, its JVM and its Python workers keep scratch files, temp files
    # and imports inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = log_dir
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)

    from mhap_spark.session import build_session

    nproc = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = build_session(
        f"perfbench_{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=max(nproc, 8),
        extra={
            "spark.driver.memory": driver_memory(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
        },
    )
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        host = host_info(spark)
        kind = spec["kind"]
        fn = batch_workload if kind == "batch" else stream_workload
        res = fn(spark, spec, run, args.seconds, args.tiny)
    finally:
        peak_mb = sampler.stop()
        stop_spark(spark)

    if args.trace:
        values = per_layer(
            [m["name"] for m in wanted], kind, res, session_s, peak_mb, log_dir, nproc
        )
        spans_path = os.path.join(WORK, f"spans_{args.workload}_{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(run.spans, f)
    else:
        values = end_to_end(kind, res, session_s)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "tiny": args.tiny, "host": host, "setup": res["setup"],
        "session_s": session_s, "peak_rss_mb": peak_mb, "calls_s": res["calls"],
        "traced_calls_s": res["traced_calls"],
        "counts": res.get("reps") or res.get("matches_per_batch"),
        "problems": run.problems,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
