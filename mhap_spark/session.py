"""SparkSession helpers tuned for the pipeline (Arrow on, AQE on, skew join on)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Local-mode core count: ``$SPARK_GRAFT_CPUS`` when it is a number,
    else the host's CPU count (a fixed fallback oversubscribes small hosts)."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() else (os.cpu_count() or 1)


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    half the host's RAM (``MemTotal`` in /proc/meminfo) capped at 32g — a
    fixed 32g asks for more heap than small hosts have.  32g when
    /proc/meminfo is unreadable."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "32g"
    return f"{max(1, min(32 * 1024, kb // 2048))}m"


def build_session(
    app: str = "mhap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    n_cores = default_cores()
    master = master or f"local[{n_cores}]"
    if master.startswith("local[") and master[6:-1].isdigit():
        n_cores = int(master[6:-1])
    elif master.startswith("local-cluster["):
        # local-cluster[n_exec, cores_per_exec, mem_mb] — real executor JVMs
        # (Spark's multi-executor test master); total cores = n * c
        parts = master[len("local-cluster["):-1].split(",")
        if len(parts) == 3:
            n_cores = int(parts[0].strip()) * int(parts[1].strip())
    # 4 partitions per core: smaller per-task hash maps/sorts (less spill at
    # high slot counts) and better stragglers; AQE coalesces tiny ones back
    shuffle_partitions = shuffle_partitions or max(4 * n_cores, 16)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # cached-batch rows carry ~12 KiB sketch arrays; the 10k-row default
        # makes each column builder allocate >100 MiB transiently (×2 on
        # growth, ×cores tasks) — OOMs a bounded executor heap outright.
        # 2048 matches the Arrow batch size and keeps peak build ~25 MiB.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "2048")
        .config("spark.driver.memory", default_driver_memory())
        # local-mode artifact: executors ARE the driver process, so work that
        # a cluster keeps executor-side (e.g. localCheckpoint block
        # materialization in the CC loop) counts against driver.maxResultSize;
        # the 1 GiB default guardrail aborted the 3M-row bench (27 tasks,
        # 1029.5 MiB).  8 GiB is still a guardrail against true collect()
        # bugs while letting single-process runs breathe.
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.memory.fraction", "0.7")
        # shuffle/spill scratch space.  On this one-box sandbox every thread
        # funnels shuffle files through a single virtio disk, which is the
        # 32-core legs' main contention artifact; pointing local.dir at
        # tmpfs (SPARK_GRAFT_LOCAL_DIR=/dev/shm/...) is the honest proxy for
        # a real cluster's per-executor local SSDs.  Default: Spark's normal
        # resolution (SPARK_LOCAL_DIRS > java.io.tmpdir), untouched unless
        # the env var is set.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # band-bucket joins carry small uniform buckets: shuffled hash join
        # beats sort-merge (no per-task sorts; measured 2.2x on the star join)
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    # opt-in Spark event log (job/stage/task timings) for the bench probes
    # (tools/joblog.py parses it into per-job latency + per-stage skew)
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", f"file://{evlog}"
        )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
