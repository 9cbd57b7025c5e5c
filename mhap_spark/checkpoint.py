"""Resumable stage checkpoints + lineage + metrics.

The reference's precompute mode materializes sketches to a binary cache
(mhap/impl/SequenceSketchStreamer.java:322-395); we generalize it to named
stage tables with a manifest, per the north rule "resumable from checkpoint
with per-partition lineage + metrics".

Two storage backends behind one protocol (SURVEY.md §7.3 risk 5):
``fmt="parquet"`` (default) writes path-addressed dirs, ``fmt="iceberg"``
writes catalog tables via DataFrameWriterV2 (needs the iceberg-spark runtime
jar + a configured catalog — absent in this sandbox, so its integration test
is skipped-with-reason rather than silently green).  Either way the JSON
manifest is keyed by (stage, config_hash); resume = skip any stage whose
manifest entry matches the current config hash.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointStore:
    """``fmt="parquet"`` (default) writes path-addressed parquet dirs under
    ``base_dir``.  ``fmt="iceberg"`` writes catalog tables
    ``<table_prefix>.<stage>`` via the DataFrameWriterV2 API (requires the
    iceberg-spark runtime on the session classpath and a configured catalog,
    e.g. ``spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog``);
    the manifest/lineage/metrics protocol is identical either way — see
    tests/test_pipeline.py::test_resume_from_checkpoint_iceberg for the
    wired shape (skipped where the runtime jar is absent)."""

    def __init__(
        self,
        base_dir: str,
        run_id: str | None = None,
        fmt: str = "parquet",
        table_prefix: str | None = None,
    ):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported checkpoint format: {fmt}")
        if fmt == "iceberg" and not table_prefix:
            raise ValueError("fmt='iceberg' requires table_prefix='catalog.db'")
        self.base_dir = base_dir
        self.fmt = fmt
        self.table_prefix = table_prefix
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(base_dir, exist_ok=True)
        self._manifest_path = os.path.join(base_dir, "manifest.json")

    def _table(self, stage: str) -> str:
        return f"{self.table_prefix}.{stage}"

    # -- manifest -----------------------------------------------------------
    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def _update_manifest(self, mutate) -> None:
        """Read-modify-write under an exclusive flock: two runs sharing a
        base_dir (e.g. concurrent benches) must not lose each other's stage
        entries to a stale read — os.replace alone only makes each WRITE
        atomic, not the read-modify-write."""
        import fcntl

        with open(self._manifest_path + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            m = self._manifest()
            mutate(m)
            self._save_manifest(m)

    def _stage_data_path(self, entry: dict, stage: str) -> str:
        # versioned layout (round 5): the manifest entry points at its own
        # immutable version subdir; entries from older checkpoints without a
        # "path" key fall back to the flat layout they were written with
        return os.path.join(self.base_dir, entry.get("path", stage))

    def has(self, stage: str, config_hash: str) -> bool:
        entry = self._manifest().get(stage)
        if entry is None or entry.get("config_hash") != config_hash:
            return False
        if self.fmt == "iceberg":
            return True  # manifest is authoritative; table existence checked at read
        return os.path.exists(self._stage_data_path(entry, stage))

    # -- IO -----------------------------------------------------------------
    def write(self, df: DataFrame, stage: str, config_hash: str) -> DataFrame:
        """Materialize a stage.  Records row count and per-partition lineage
        (partition id → rows) in the manifest; returns the re-read DataFrame
        so downstream plans read the checkpoint, not the producing lineage.

        The producing plan executes exactly ONCE (the parquet write); lineage
        is derived from the re-read files, so the manifest describes the
        partitions actually materialized on disk, not a pre-write shadow
        evaluation (round-1 ADVICE fix)."""
        import fcntl

        spark = df.sparkSession
        # Per-stage writer lock, held across the WHOLE write.  Versioned
        # subdirs already keep concurrent writers off each other's data, but
        # the lock still (a) serializes manifest commit + version prune so
        # one writer cannot prune another's in-progress version dir, and
        # (b) turns duplicate concurrent computes into write-then-supersede
        # (wasted work for the loser, never corruption).  Crash safety is
        # unchanged: flocks die with the process, and a crashed write leaves
        # only a dangling version subdir that the next commit prunes.
        with open(
            os.path.join(self.base_dir, f".{stage.replace(os.sep, '_')}.write.lock"),
            "w",
        ) as wlk:
            fcntl.flock(wlk, fcntl.LOCK_EX)
            # invalidate BEFORE the overwrite: a crash between the data write
            # and the manifest update must leave NO entry for this stage
            # (→ recompute on resume) — never a stale entry whose config_hash
            # still matches a previous run while the directory holds partial
            # data from this one
            prev_entry = self._manifest().get(stage) or {}
            prev_version = os.path.basename(prev_entry["path"]) if "path" in prev_entry else None
            self._update_manifest(lambda m: m.pop(stage, None))
            if self.fmt == "iceberg":
                df.writeTo(self._table(stage)).using("iceberg").createOrReplace()
                out = spark.read.table(self._table(stage))
                version = None
            else:
                # write into a fresh VERSION subdir, never over live data
                # (Iceberg-style snapshot discipline on plain parquet): a
                # concurrent reader that passed has() and holds a lazy plan
                # over the previous version keeps a valid file listing for
                # the whole overwrite — the flat layout deleted the files
                # out from under it mid-write.  The previous version is
                # removed only AFTER the manifest points at the new one,
                # shrinking the reader hazard from the full multi-minute
                # write to post-commit cleanup of a superseded version.
                version = f"v-{self.run_id}-{uuid.uuid4().hex[:8]}"
                path = os.path.join(self.base_dir, stage, version)
                df.write.mode("overwrite").parquet(path)
                out = spark.read.parquet(path)
            lineage_df = out.groupBy(F.spark_partition_id().alias("part_id")).agg(
                F.count(F.lit(1)).alias("rows")
            )
            lineage = {
                str(r["part_id"]): int(r["rows"]) for r in lineage_df.collect()
            }
            entry = {
                "config_hash": config_hash,
                "rows": sum(lineage.values()),
                "partitions": lineage,
                "run_id": self.run_id,
                "written_at": time.time(),
                "format": self.fmt,
            }
            if version is not None:
                entry["path"] = f"{stage}/{version}"
            self._update_manifest(lambda m: m.__setitem__(stage, entry))
            if version is not None:
                # post-commit cleanup with ONE generation of grace: the
                # immediately-superseded version survives until the next
                # write, so a reader holding a lazy plan over it stays valid
                # across this commit; older versions and dangling subdirs
                # from crashed writes are removed
                self._prune_versions(stage, keep={version, prev_version})
        return out

    def _prune_versions(self, stage: str, keep: set) -> None:
        import shutil

        d = os.path.join(self.base_dir, stage)
        for name in os.listdir(d):
            if name in keep:
                continue
            p = os.path.join(d, name)
            if os.path.isdir(p):  # superseded/dangling version subdir
                shutil.rmtree(p, ignore_errors=True)
            else:  # part-file left by a pre-versioning flat-layout write
                try:
                    os.remove(p)
                except OSError:
                    pass

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if self.fmt == "iceberg":
            return spark.read.table(self._table(stage))
        entry = self._manifest().get(stage)
        if entry is None:
            # round-6 (round-5 ADVICE): under the versioned layout the bare
            # stage dir can hold SEVERAL version subdirs (e.g. a dangling
            # one from a crashed write); reading it as parquet would union
            # their part files and silently return duplicated/mixed rows.
            # A missing manifest entry is therefore an error, not a
            # flat-layout fallback (legacy flat checkpoints keep working:
            # their manifest entries exist and lack only the "path" key,
            # which _stage_data_path handles).
            raise KeyError(
                f"checkpoint manifest has no entry for stage {stage!r} in "
                f"{self.base_dir}; refusing to read the bare stage dir "
                "(it may hold multiple version subdirs)"
            )
        return spark.read.parquet(self._stage_data_path(entry, stage))

    def write_metrics(self, spark: SparkSession, stage: str, metrics: dict) -> None:
        """Append one metrics row (funnel counters etc.) to the metrics table."""
        path = os.path.join(self.base_dir, "_metrics")
        row = {
            "stage": stage,
            "run_id": self.run_id,
            "ts": float(time.time()),
            "payload": json.dumps(metrics, sort_keys=True),
        }
        spark.createDataFrame(
            [row], "stage string, run_id string, ts double, payload string"
        ).write.mode("append").parquet(path)
