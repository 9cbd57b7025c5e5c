"""Incremental ingest via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10); its closest feature is the
``-q`` mode that streams query files against an indexed set
(mhap/main/MhapMain.java:511-541).  This module expresses that incrementally:
new rows arrive as a stream, each micro-batch is sketched, appended to the
band index, and probed against it — one plan finds the pairs within the
batch and the pairs against every earlier batch, and tags each pair with
its side (``intra_batch``) — so duplicate detection runs continuously as
data lands.

``foreachBatch`` is the right tool (not stateful streaming operators): the
probe is a batch join against a large, growing table — exactly what
checkpointed batch joins do well, and what ``applyInPandasWithState`` cannot
hold in executor state at web scale.
"""

from __future__ import annotations

import glob
import math
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from mhap_spark.candidates import sized_buckets
from mhap_spark.config import MhapConfig
from mhap_spark.freq import FreqTable
from mhap_spark.minhash import SIGNATURE_SCHEMA, compute_signatures
from mhap_spark.verify import verified_pairs


_BATCH_ID = StructField("batch_id", IntegerType())
_SIGNATURE_HISTORY = StructType(SIGNATURE_SCHEMA.fields + [_BATCH_ID])
_INDEX_HISTORY = StructType(
    [
        StructField("image_id", StringType()),
        StructField("band_hash", LongType()),
        _BATCH_ID,
    ]
)


def _read_history(
    spark: SparkSession, path: str, schema: StructType, batch_id: int
) -> DataFrame:
    """Rows of the ``batch_id=N`` table at ``path`` from batches up to and
    including ``batch_id`` — the one way the sink reads its history.

    The schema is given, not inferred, so a history with no committed part
    file (a new stream, or a crash mid-write of the first batch that left
    only a ``_temporary`` subtree) reads as an empty frame instead of
    raising UNABLE_TO_INFER_SCHEMA, without walking the directory tree.
    Only the schema's columns are read, so signature batches written in the
    earlier wide schema still read.  The ``batch_id`` filter prunes
    partitions."""
    os.makedirs(path, exist_ok=True)
    return (
        spark.read.schema(schema)
        .parquet(path)
        .where(F.col("batch_id") <= F.lit(batch_id))
    )


class BandIndex:
    """Inverted band index for the streaming ``-q`` mode — the 10^12-row
    layout.

    Layout: ``band_index/batch_id=N/*.parquet`` holding EXPLODED
    ``(band_hash, image_id)`` rows, written straight from the micro-batch's
    persisted signatures: one compact write per batch, one part file per
    sketch partition, no subdirectories.  Each micro-batch overwrites its
    own ``batch_id=N`` directory (idempotent under foreachBatch retries,
    same discipline as the signature table).

    Probe physical shape — the point of the layout: the accumulated index
    is the enormous side, so it must NEVER be shuffled per batch.  The
    probe's exploded bands (batch_rows × n_bands rows of 16 B — MBs even at
    10k-row batches) are BROADCAST into a map-side hash semi-join against
    the index scan: per-batch cost is one columnar scan of two int64
    columns plus work proportional to the collision set, not to the index.
    Bucket-size capping stays exact: every index row of a probed band
    survives the semi-join, so one window over the surviving collision set
    (candidates.sized_buckets, keyed on band and side) counts the true
    bucket sizes for all probed bands.

    An index in the earlier layout, which split every batch into per-prefix
    partition directories (``batch_id=N/<col>=P/``), cannot take new
    batches: Spark's partition discovery rejects a table that mixes both
    layouts, so construction raises ``ValueError`` before any write."""

    def __init__(self, path: str):
        self.path = path
        # partition subdirectories under a batch mean the old layout: fail
        # before the first micro-batch writes anything
        nested = sorted(glob.glob(os.path.join(path, "batch_id=*", "*=*", "")))
        if nested:
            raise ValueError(
                f"band index {path} uses the old prefix-partitioned layout "
                f"({os.path.relpath(nested[0], path)}); the compact layout "
                "keeps part files directly under batch_id=N — rebuild the "
                "index from the signature table"
            )

    def append(self, sigs: DataFrame, batch_id: int) -> None:
        sigs.select("image_id", F.explode("bands").alias("band_hash")).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.path, f"batch_id={batch_id}"))

    def probe(self, probe_sigs: DataFrame, cfg: MhapConfig, batch_id: int) -> DataFrame:
        """(src, dst, votes ≥ gate, intra_batch) of batch ``batch_id`` after
        its append: src < dst within the batch (what
        candidates.candidate_pairs finds on its signatures; intra_batch
        True), and src in the batch with dst earlier (intra_batch False) —
        every (batch row, earlier row) pair sharing ≥ gate bands whose
        earlier-side bucket holds at most ``max_bucket_size`` earlier rows.
        One window over the collision set sizes the buckets per
        (band_hash, cur), so each side keeps its own cap."""
        idx = _read_history(
            probe_sigs.sparkSession, self.path, _INDEX_HISTORY, batch_id
        ).select(
            "band_hash",
            F.col("image_id").alias("dst"),
            (F.col("batch_id") == F.lit(batch_id)).alias("cur"),
        )
        probe = probe_sigs.select(
            F.col("image_id").alias("src"),
            F.explode("bands").alias("band_hash"),
        )
        keys = probe.select("band_hash").distinct()
        # map-side semi filter: broadcast the (bounded) probe band set, scan
        # the (unbounded) index — collision rows only survive
        relevant = idx.join(F.broadcast(keys), ["band_hash"])
        ok = sized_buckets(relevant, ["band_hash", "cur"], "dst").where(
            F.col("bucket_size") <= cfg.max_bucket_size
        )
        return (
            ok.join(F.broadcast(probe), ["band_hash"])
            .where(
                F.when(F.col("cur"), F.col("src") < F.col("dst")).otherwise(
                    F.col("src") != F.col("dst")
                )
            )
            .groupBy("src", "dst", "cur")
            .agg(F.count(F.lit(1)).alias("votes"))
            .filter(F.col("votes") >= F.lit(cfg.min_band_matches()))
            .select("src", "dst", "votes", F.col("cur").alias("intra_batch"))
            # one materialization the caller reads twice (verify's id set
            # and its candidates) without re-scanning the index
            .localCheckpoint(eager=True)
        )


class IncrementalDedup:
    """foreachBatch sink: sketch → append to the band index → one probe →
    verify.

    Directory layout under ``base_dir``: ``signatures/batch_id=N/``
    (accumulated signature table, one partition dir per micro-batch),
    ``band_index/batch_id=N/`` (the BandIndex of those signatures),
    ``matches/batch_id=N/`` (verified duplicate pairs per batch),
    ``keep/batch_id=N/`` (with ``keep_manifest``), ``_stream_checkpoint/``
    (Spark streaming offsets).

    Duplicate coverage is complete: the batch is appended before it is
    probed, so one ``BandIndex.probe`` finds the pairs WITHIN the
    micro-batch and ACROSS batches.  Verify reads every bottom-k array from
    the signature table, semi-joined to the candidates' ids.  ``matches/``
    rows are ``(src, dst, votes, jaccard, score, intra_batch)``: the probe's
    side tag rides through verify, and the keep manifest reads it.

    Each micro-batch is read and sketched once.  ``process_batch`` persists
    the batch (unless the caller already cached it, in which case it is
    used as is and left cached), counts it, and sketches it on
    ``ceil(rows / spark.sql.execution.arrow.maxRecordsPerBatch)``
    coalesced partitions, so a small batch is one full Arrow batch in one
    task instead of many near-empty ones.  The recurrence guard and the
    keep manifest read the batch's ids from the same cache, and the writes
    and the probe read the persisted signatures.

    Writes are idempotent under foreachBatch retries: every batch overwrites
    its own ``batch_id=N`` partition directory, so a replayed batch replaces
    its previous (possibly partial) output instead of appending duplicates.
    A batch that fails after its append is replayed over its own
    partitions, which the replay rewrites before it probes; the recurrence
    guard reads only earlier batches.

    ``band_index`` is accepted for compatibility with callers that still
    pass it; the band index is the only cross-batch path, so only ``True``
    is valid."""

    def __init__(
        self,
        base_dir: str,
        cfg: MhapConfig,
        freq: FreqTable | None = None,
        band_index: bool = True,
        keep_manifest: bool = False,
    ):
        if not band_index:
            raise ValueError(
                "IncrementalDedup probes the band index for every cross-batch "
                "match; band_index=False is not supported"
            )
        if cfg.candidate_mode == "star":
            # star emission is hub-mediated: members connect only THROUGH the
            # bucket hub, and the transitive edges are closed by the batch
            # pipeline's CC stage — which this sink does not run.  The sink's
            # one probe emits every pair at min_band_matches(), so accepting
            # a star config would silently ignore its hub emission, salting
            # and star_min_votes gate.  Same loud-rejection discipline as
            # candidates.candidate_pairs' min_store+star check.
            raise ValueError(
                "IncrementalDedup requires candidate_mode='pairs': star-mode "
                "hub edges need the CC stage to close transitive matches, "
                "which the streaming sink does not run"
            )
        if cfg.min_store_shingles > 0:
            # the asymmetric store filter keeps short rows out of the stored
            # side of the probe; the band index stores every row and carries
            # no n_shingles, so the one probe would report the (short,
            # short) pairs candidate_pairs skips.  Implementing it needs an
            # n_shingles filter on the index side of the probe; until then,
            # reject loudly.
            raise ValueError(
                "IncrementalDedup does not support min_store_shingles: the "
                "band index stores every row, so the probe cannot leave "
                "short rows out of the stored side"
            )
        self.base_dir = base_dir
        self.cfg = cfg
        self.freq = freq
        self.sig_path = os.path.join(base_dir, "signatures")
        self.match_path = os.path.join(base_dir, "matches")
        # keep_manifest=True: additionally write ``keep/batch_id=N`` with the
        # FIRST-ARRIVAL keep/drop decision per arriving row — the streaming
        # counterpart of cluster.keep_manifest.  A row is dropped iff it has
        # a verified match to an earlier batch (first arrival wins) or to a
        # smaller id within its own batch (ids tie-break inside a batch,
        # where arrival order is undefined); each match's ``intra_batch``
        # tag, set by the probe, says which side that is.  Production-
        # streaming semantics: the index holds ALL seen rows — kept or
        # dropped — so "duplicate of a dropped row" still drops (no
        # transitive-closure canonicalization; the batch pipeline's CC
        # keep_manifest is the closure-exact variant).  PRECONDITION:
        # image_id is unique across the stream's lifetime — it is the row
        # key, and a recurring id gives verify's image_id joins two sketches
        # for one id, so its pairs come out duplicated and conflicting —
        # so process_batch rejects such a batch before any write.  Cost: a
        # scan of earlier batches' ids for that guard, one re-read of the
        # batch's just-written matches partition and one tiny per-batch
        # write — off by default.
        self.keep_manifest = keep_manifest
        self.keep_path = os.path.join(base_dir, "keep")
        self.bindex = BandIndex(os.path.join(base_dir, "band_index"))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # read the micro-batch once: the row count, the recurrence guard,
        # the sketch and the keep manifest all scan this cache.  A batch the
        # caller already cached is used as is and stays cached afterwards.
        owned = batch_df.storageLevel == StorageLevel.NONE
        if owned:
            batch_df = batch_df.persist()
        sigs = None
        try:
            n_rows = batch_df.count()
            batch_ids = batch_df.select("image_id")
            if self.keep_manifest:
                # the keep manifest's documented precondition — image_id
                # unique across the stream's lifetime — must fail LOUDLY:
                # image_id is the row key, and a recurring id would give
                # verify's image_id joins two sketches for one id, writing
                # duplicated, conflicting matches and keep decisions.
                # Checked before any write, so a rejected batch leaves
                # nothing on disk.
                earlier_ids = _read_history(
                    spark, self.sig_path, _SIGNATURE_HISTORY, batch_id - 1
                ).select("image_id")
                n_recur = batch_ids.join(earlier_ids, "image_id", "left_semi").count()
                if n_recur:
                    raise ValueError(
                        f"keep_manifest precondition violated: {n_recur} "
                        f"image_id(s) of batch {batch_id} already appear in "
                        "earlier batches; ids must be unique across the "
                        "stream's lifetime for first-arrival-wins decisions"
                    )
            # one sketch task per full Arrow batch: a micro-batch spread over
            # many small partitions pays the fixed per-task UDF cost on each
            # (coalesce never raises the partition count)
            arrow_rows = int(
                spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
            )
            n_parts = max(1, math.ceil(n_rows / arrow_rows)) if arrow_rows > 0 else 1
            sigs = compute_signatures(
                batch_df.coalesce(n_parts), self.cfg, self.freq
            ).persist()
            # append first, so one probe and one sketch source cover the
            # batch itself and every earlier batch
            sigs.write.mode("overwrite").parquet(
                os.path.join(self.sig_path, f"batch_id={batch_id}")
            )
            self.bindex.append(sigs, batch_id)
            # verify arrays come from the signature table semi-joined to the
            # candidates' ids: unmatched bottom-k rows never move, and no id
            # set is held on the driver
            cands = self.bindex.probe(sigs, self.cfg, batch_id)
            named = cands.select(F.explode(F.array("src", "dst")).alias("image_id"))
            sketches = _read_history(
                spark, self.sig_path, _SIGNATURE_HISTORY, batch_id
            ).join(named, "image_id", "left_semi")

            matches = verified_pairs(cands, sketches, self.cfg)
            matches.write.mode("overwrite").parquet(
                os.path.join(self.match_path, f"batch_id={batch_id}")
            )
            if self.keep_manifest:
                # the probe tagged each pair's side: an intra-batch match is
                # canonical src < dst (drop dst), a cross-batch match carries
                # the batch row in src and the earlier row in dst (drop
                # src).  Read the matches back from the partition just
                # written — one small file scan instead of recomputing the
                # verify plan.  The schema is given: the sink wrote these
                # columns itself, and inferring them costs a footer job
                drops = (
                    spark.read.schema("src string, dst string, intra_batch boolean")
                    .parquet(
                        os.path.join(self.match_path, f"batch_id={batch_id}")
                    )
                    .select(
                        F.when(F.col("intra_batch"), F.col("dst"))
                        .otherwise(F.col("src"))
                        .alias("image_id")
                    )
                    .distinct()
                )
                keep = batch_ids.join(
                    drops.withColumn("keep", F.lit(False)), "image_id", "left"
                ).select("image_id", F.coalesce("keep", F.lit(True)).alias("keep"))
                keep.write.mode("overwrite").parquet(
                    os.path.join(self.keep_path, f"batch_id={batch_id}")
                )
        finally:
            if sigs is not None:
                sigs.unpersist()
            if owned:
                batch_df.unpersist()

    def start(self, stream_df: DataFrame):
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option(
                "checkpointLocation", os.path.join(self.base_dir, "_stream_checkpoint")
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )


def read_image_stream(
    spark: SparkSession, input_dir: str, schema_ddl: str, max_files: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts over an event stream — the
    standard Structured Streaming late-data pattern (task brief §streams):
    rows later than ``watermark`` behind the max seen event time are
    dropped, and a window's aggregate is emitted (append mode) once the
    watermark passes its end, bounding state no matter how long the stream
    runs.  Batch-equivalent of the ``events_hourly`` contract query."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            key_col,
            "n_events",
        )
    )
