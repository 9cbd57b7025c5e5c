"""End-to-end near-duplicate pipeline driver.

Lifecycle (SURVEY.md §3.5):

    input (image_id, bytes, w, h, fmt, caption, phash)
      → df-ratio table (tf-idf corpus stats)            [shuffle 1]
      → signatures: weighted MinHash + bottom-k + bands [narrow, Arrow kernel]
      → checkpoint A
      → candidate pairs: band buckets → votes ≥ m       [shuffles 2-3]
      → verified pairs: bottom-k Jaccard ≥ τ            [joins]
      → checkpoint B
      → clusters: large-star/small-star CC              [shuffle loop]
      → (image_id, cluster_id) + metrics

Also runnable via ``spark-submit --py-files mhap_spark.zip mhap_spark/pipeline.py``
(see __main__ at the bottom).
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

if __package__ in (None, ""):  # spark-submit by file path: repo root not on sys.path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhap_spark.candidates import candidate_pairs
from mhap_spark.checkpoint import CheckpointStore
from mhap_spark.cluster import connected_components
from mhap_spark.config import MhapConfig
from mhap_spark.freq import FreqTable
from mhap_spark.minhash import compute_signatures
from mhap_spark.verify import verified_pairs


def run_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    cfg: MhapConfig,
    store: CheckpointStore | None = None,
    input_key: str | None = None,
) -> dict[str, DataFrame]:
    """Returns {"signatures", "pairs", "clusters"} DataFrames plus
    "funnel_obs" (an Observation, or None when the pairs stage was resumed
    from checkpoint): the bucket-funnel metrics ride the first action that
    materializes the pairs — read ``out["funnel_obs"].get`` AFTER
    materializing, never before (it blocks).

    With a store: stages already materialized under the current config hash
    are skipped (resume semantics, north rule).  ``input_key`` names the
    INPUT identity (e.g. "rows=20000,seed=42", or a table snapshot id) and
    is folded into the stage hash — without it, two runs sharing a
    checkpoint dir with the same config but different corpora would
    silently resume each other's results.  None preserves the config-only
    key for callers that manage checkpoint dirs per input."""
    ch = cfg.config_hash()
    if input_key is not None:
        import hashlib

        ch = f"{ch}-{hashlib.sha256(input_key.encode()).hexdigest()[:12]}"
    t0 = time.time()

    # --- stage A: signatures -------------------------------------------------
    if store is not None and store.has("signatures", ch):
        signatures = store.read(spark, "signatures")
    else:
        freq = None
        if 0.0 <= cfg.repeat_weight < 1.0:
            # one-job corpus-stats pass (scan + Arrow kernel execute once;
            # doc-count markers ride the same shuffle).  Gate mirrors
            # batch_weights' consumption exactly: repeat_weight ≥ 1.0 takes
            # the plain-tf branch and never reads the table, so computing it
            # there would be one full wasted corpus scan per run
            freq = FreqTable.compute(input_df, cfg)
        signatures = compute_signatures(input_df, cfg, freq)
        if store is not None:
            signatures = store.write(signatures, "signatures", ch)
            store.write_metrics(
                spark, "signatures", {"elapsed_s": time.time() - t0}
            )
        else:
            # signatures feed candidates, two verify joins, and the CC vertex
            # set — without a checkpoint the Arrow kernel would re-run per
            # consumer; cache is the in-memory stand-in for checkpoint A
            signatures = signatures.persist()
            # materialize the cache with ONE dedicated job before the big
            # downstream action — otherwise its ~10 concurrent AQE
            # stage-jobs first-compute the same cache blocks and serialize
            # on per-block locks while occupying every task slot with
            # waiters (measured in round 5: the ten-job wave ran 34 s at 32c
            # for ~10.5 s of kernel work)
            signatures.count()

    # --- stage B: candidate + verified pairs --------------------------------
    funnel_obs: Observation | None = None
    purity_obs: tuple[Observation, Observation] | None = None
    if store is not None and store.has("pairs", ch):
        pairs = store.read(spark, "pairs")
    else:
        t1 = time.time()
        funnel_obs = Observation()
        cands = candidate_pairs(signatures, cfg, funnel_obs=funnel_obs)
        if cfg.candidate_mode == "star":
            # purity of the oversize votes≥1 relaxation: count oversize-
            # relaxed edges entering verify vs surviving it — both ride the
            # pairs materialization as Observations, zero extra jobs
            purity_obs = (Observation(), Observation())
            oversize_count = F.coalesce(
                F.sum(F.col("any_oversize").cast("long")), F.lit(0)
            )
            cands = cands.observe(
                purity_obs[0], oversize_count.alias("oversize_edges_to_verify")
            )
        pairs = verified_pairs(cands, signatures, cfg)
        if purity_obs is not None:
            pairs = pairs.observe(
                purity_obs[1], oversize_count.alias("oversize_edges_verified")
            ).drop("any_oversize")
        if store is None:
            pairs = pairs.persist()  # consumed by CC and by the caller
        if store is not None:
            # the checkpoint write is the action that populates funnel_obs —
            # the funnel metrics cost zero extra jobs (round-1 Amdahl fix)
            pairs = store.write(pairs, "pairs", ch)
            funnel = dict(funnel_obs.get)
            if purity_obs is not None:
                funnel.update(purity_obs[0].get)
                funnel.update(purity_obs[1].get)
            funnel["elapsed_s"] = time.time() - t1
            funnel = {k: float(v) if v is not None else None for k, v in funnel.items()}
            store.write_metrics(spark, "pairs", funnel)

    # --- stage C: clusters ---------------------------------------------------
    if store is not None and store.has("clusters", ch):
        clusters = store.read(spark, "clusters")
    else:
        t2 = time.time()
        clusters = connected_components(
            pairs, signatures.select("image_id"), max_iters=cfg.cc_max_iters,
            driver_finish_edges=cfg.cc_driver_finish_edges,
            no_broadcast_hints=cfg.no_broadcast_hints,
        )
        if store is not None:
            clusters = store.write(clusters, "clusters", ch)
            store.write_metrics(spark, "clusters", {"elapsed_s": time.time() - t2})

    return {
        "signatures": signatures,
        "pairs": pairs,
        "clusters": clusters,
        "funnel_obs": funnel_obs,
        "purity_obs": purity_obs,
    }


def _main() -> None:
    """spark-submit entry: synthesizes the corpus, runs the full pipeline."""
    import argparse

    from mhap_spark.session import build_session
    from mhap_spark.synth import INPUT_SCHEMA_DDL, corpus_to_rows, generate_corpus

    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    # default None: only override the PRESET's num_hashes when explicitly
    # given — a 512 argparse default silently replaced preset 2's 256 and
    # preset 3's 768, so the advertised operating points never ran
    ap.add_argument("--num-hashes", type=int, default=None)
    ap.add_argument(
        "--min-store-shingles",
        type=int,
        default=0,
        help="store filter (mhap/main/MhapMain.java:79 --min-store-length): "
        "rows below this shingle count probe the band index but are not "
        "stored in it; 0 = symmetric index (pairs mode only)",
    )
    ap.add_argument(
        "--m4-out",
        default=None,
        help="also write verified pairs as 12-column M4 text "
        "(mhap/impl/MatchResult.java:98-113 layout) to this directory",
    )
    ap.add_argument(
        "--no-images",
        action="store_true",
        help="synthesize the corpus without the per-row PNG encode "
        "(bytes empty, phash from raw pixels) — the large bench tiers' "
        "corpus mode; REQUIRED for count-comparability with bench.py legs "
        "at the same row count (the rng stream differs between modes)",
    )
    ap.add_argument(
        "--keep-out",
        default=None,
        help="also write the per-row keep/drop manifest (image_id, "
        "cluster_id, keep = is-canonical-representative) as parquet to "
        "this directory — the dedup pass's end product",
    )
    ap.add_argument(
        "--auto-cutoff",
        type=float,
        default=None,
        metavar="PCT",
        help="derive filter_cutoff from the corpus shingle-count histogram "
        "at this mass percentile (GetHistogramStats.java:63-90 workflow)",
    )
    ap.add_argument(
        "--preset",
        type=int,
        default=1,
        choices=[1, 2, 3, 4],
        help="1=default 2=fast 3=sensitive (mhap/main/MhapMain.java:137-198) "
        "4=scale (star candidate emission)",
    )
    args = ap.parse_args()

    from mhap_spark.config import PRESETS, hints_default_for_rows

    spark = build_session("mhap_pipeline", master=args.master)
    # the CLI knows the corpus size → size-conditional no-broadcast hints
    # (BENCH/HINTS_AB_raw.json: 13-25% cost below 300k rows; the OOM cliff
    # they protect against was measured at 3M)
    overrides = dict(
        min_store_shingles=args.min_store_shingles,
        no_broadcast_hints=hints_default_for_rows(args.rows),
    )
    if args.num_hashes is not None:
        overrides["num_hashes"] = args.num_hashes
    cfg = PRESETS[args.preset].with_overrides(**overrides)
    corpus = generate_corpus(args.rows, seed=args.seed, with_images=not args.no_images)
    df = spark.createDataFrame(corpus_to_rows(corpus), INPUT_SCHEMA_DDL).repartition(
        spark.sparkContext.defaultParallelism
    )
    if args.auto_cutoff is not None:
        from mhap_spark.freq import auto_filter_cutoff

        cfg = cfg.with_overrides(
            filter_cutoff=auto_filter_cutoff(df, cfg, percent=args.auto_cutoff)
        )
        print(f"auto filter_cutoff={cfg.filter_cutoff:.3e}")
    store = CheckpointStore(args.checkpoint_dir) if args.checkpoint_dir else None
    out = run_pipeline(
        spark, df, cfg, store=store,
        input_key=f"rows={args.rows},seed={args.seed},images={int(not args.no_images)}",
    )
    n_pairs = out["pairs"].count()
    n_clusters = out["clusters"].select("cluster_id").distinct().count()
    if args.m4_out:
        from mhap_spark.formats import to_m4

        to_m4(out["pairs"], out["signatures"]).write.mode("overwrite").text(
            args.m4_out
        )
    if args.keep_out:
        from mhap_spark.cluster import keep_manifest

        keep_manifest(out["clusters"]).write.mode("overwrite").parquet(
            args.keep_out
        )
    print(f"pairs={n_pairs} clusters={n_clusters}")
    spark.stop()


if __name__ == "__main__":
    _main()
