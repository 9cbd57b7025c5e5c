"""3M-row kill-and-resume evidence (round-3 VERDICT task 7, second half).

The north rule requires "resumable from checkpoint with per-partition
lineage + metrics".  `tests/test_pipeline.py::test_resume_from_checkpoint`
pins the protocol at 2k rows; this tool exercises it on a multi-minute run:

1. launch ``python -m mhap_spark.pipeline --rows N --preset 4
   --checkpoint-dir D`` as a child process;
2. poll ``D/manifest.json`` until checkpoint B (the ``pairs`` stage) is
   committed, then SIGKILL the child's whole process group mid-CC — a
   hard crash for python AND the JVM (killing only the wrapper would let
   the JVM exit gracefully through its stdin-EOF shutdown hooks);
3. relaunch the identical command against the same dir and time it;
4. verify from the manifest's per-stage ``run_id`` lineage that the
   resumed run REUSED signatures + pairs (their run_ids still belong to
   the killed run) and recomputed only clusters, and from the clusters
   parquet that dup-pair recall vs the planted truth is 1.0 and the
   cluster count matches the uninterrupted 3M bench leg.

Emits one JSON line; the orchestrator itself never starts a JVM except
for the final read-back verification session.

Usage: python tools/datasize_resume.py [--rows 3000000] [--cores N]
(``--cores`` defaults to the host's core count, ``session.default_cores()``)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _spawn(rows: int, cores: int, ckpt: str, log_path: str) -> subprocess.Popen:
    """Child output goes to a FILE, never a PIPE the poll loop doesn't
    drain: the child JVM inherits these fds, and a filled 64 KB pipe would
    block its logging thread mid-run — the leg would hang before 'pairs'
    ever commits.  start_new_session puts python AND the JVM it launches in
    one process group so the kill below reaches both."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log = open(log_path, "w")
    try:
        return _popen(rows, cores, ckpt, env, log)
    finally:
        log.close()  # the child holds its own duplicated fd


def _popen(rows, cores, ckpt, env, log) -> subprocess.Popen:
    return subprocess.Popen(
        [
            sys.executable,
            "-m",
            "mhap_spark.pipeline",
            "--rows",
            str(rows),
            "--preset",
            "4",
            "--no-images",  # bench-corpus mode: count-comparable + no
            # multi-minute python-loop PNG encode before Spark starts
            "--checkpoint-dir",
            ckpt,
            "--master",
            f"local[{cores}]",
        ],
        cwd=REPO,
        env=env,
        stdout=log,
        stderr=log,
        text=True,
        start_new_session=True,
    )


def _manifest(ckpt: str) -> dict:
    p = os.path.join(ckpt, "manifest.json")
    if not os.path.exists(p):
        return {}
    try:
        with open(p) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):  # racing the atomic replace
        return {}


def main() -> None:
    from mhap_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=3_000_000)
    ap.add_argument("--cores", type=int, default=default_cores())
    ap.add_argument("--keep", action="store_true", help="keep the checkpoint dir")
    args = ap.parse_args()

    ckpt = tempfile.mkdtemp(prefix="mhap_resume_")
    result: dict = {"rows": args.rows, "cores": args.cores}

    # -- leg 1: run until checkpoint B commits, then SIGKILL ------------------
    t0 = time.time()
    log1 = os.path.join(ckpt, "leg1.log")
    child = _spawn(args.rows, args.cores, ckpt, log1)
    killed_at = None
    stages_at_kill: list[str] = []
    manifest_at_kill: dict = {}
    deadline = t0 + 4 * 3600  # bound the poll — never hang forever
    while child.poll() is None and time.time() < deadline:
        m = _manifest(ckpt)
        if "pairs" in m:
            stages_at_kill = sorted(m)
            manifest_at_kill = m  # keep the dict that confirmed 'pairs' —
            # a later re-read can race the writer's atomic replace and
            # return {} after a multi-minute leg
            # SIGKILL the whole PROCESS GROUP: killing only the python
            # wrapper lets the JVM see stdin EOF and exit through its
            # shutdown hooks — a graceful stop, not the crash this tool
            # exists to test.  killpg reaches python and the JVM at once.
            os.killpg(child.pid, signal.SIGKILL)
            killed_at = time.time() - t0
            break
        time.sleep(1.0)
    if child.poll() is None and killed_at is None:
        # deadline exceeded with the child wedged pre-checkpoint: kill the
        # group BEFORE wait(), or wait() itself hangs on the stuck leg
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        print(json.dumps({"error": "deadline exceeded before pairs checkpoint"}))
        sys.exit(1)
    child.wait()
    if killed_at is None:
        with open(log1) as f:
            tail = f.read()[-2000:]
        print(json.dumps({"error": "child finished before pairs checkpoint",
                          "log_tail": tail}))
        sys.exit(1)
    run1_id = manifest_at_kill["pairs"]["run_id"]
    result["leg1_killed_after_s"] = round(killed_at, 1)
    result["leg1_stages_committed_at_kill"] = stages_at_kill

    # -- leg 2: identical command, same dir — must resume ---------------------
    t1 = time.time()
    log2 = os.path.join(ckpt, "leg2.log")
    child2 = _spawn(args.rows, args.cores, ckpt, log2)
    child2.wait(timeout=3600)
    leg2 = time.time() - t1
    with open(log2) as f:
        out2 = f.read()
    if child2.returncode != 0:
        print(json.dumps({"error": "resume leg failed", "log_tail": out2[-3000:]}))
        sys.exit(1)
    final = [l for l in out2.splitlines() if l.startswith("pairs=")]
    result["leg2_resume_elapsed_s"] = round(leg2, 1)
    result["leg2_stdout"] = final[-1] if final else ""

    # -- lineage evidence: which stages were reused vs recomputed -------------
    m = _manifest(ckpt)
    result["stage_run_ids"] = {s: m[s]["run_id"] for s in sorted(m)}
    result["reused_stages"] = sorted(
        s for s in m if m[s]["run_id"] == run1_id
    )
    result["recomputed_stages"] = sorted(
        s for s in m if m[s]["run_id"] != run1_id
    )
    result["pairs_partition_lineage_entries"] = len(m["pairs"]["partitions"])

    # -- read-back verification: recall vs planted truth ----------------------
    from mhap_spark.session import build_session
    from mhap_spark.synth import generate_corpus

    sys.path.insert(0, REPO)
    import bench

    from mhap_spark.checkpoint import CheckpointStore

    spark = build_session("resume_verify")
    # resolve through the store — stages live in manifest-pointed VERSION
    # subdirs since the round-5 versioned layout, not flat parquet dirs
    clusters = CheckpointStore(ckpt).read(spark, "clusters")
    assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    corpus = generate_corpus(args.rows, seed=42, with_images=False)
    result["n_rows_clustered"] = len(assign)
    result["n_clusters"] = len(set(assign.values()))
    result["n_verified_pairs"] = int(m["pairs"]["rows"])
    result["dup_pair_recall"] = round(
        bench._pair_recall(assign, corpus["true_cluster"], corpus["image_id"]), 5
    )
    spark.stop()
    if not args.keep:
        shutil.rmtree(ckpt, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
