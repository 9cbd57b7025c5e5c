"""Round-6 optimization measurement harness (bench.py is FROZEN — this file
carries the extra instrumentation the optimization round needs).

Modes:
  --queries a,b,c   subset of contract queries to time (default: the 18
                    bench.py names)
  --reps N          timed reps per query inside ONE warm session (default 3)
  --plans DIR       also write .explain("formatted") per query into DIR
  --noop            time a noop-sink write instead of .count() (isolates the
                    computation from count()'s column pruning, guide §1.4)

Prints one JSON line: {"queries": {name: [rep seconds...]}, ...}.
Methodology matches bench.py's run_query_bench (same session config, same
``.count()`` action) so numbers are comparable; reps run back-to-back in one
session, min is the noise-defended statistic (BENCH/BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_NAMES = [
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


def main() -> None:
    from mhap_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=str, default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", type=str, default=None)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--cores", type=int, default=default_cores())
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from mhap_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = args.queries.split(",") if args.queries else BENCH_NAMES
    spark = build_session(
        "bench_extra", master=f"local[{args.cores}]",
        shuffle_partitions=max(args.cores, 8),
    )
    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        reps = []
        for _ in range(args.reps):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            reps.append(round(time.time() - t0, 3))
            rows[name] = n
        out[name] = reps
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "cores": args.cores,
                      "action": "noop" if args.noop else "count",
                      "rows": rows, "queries": out}))


if __name__ == "__main__":
    main()
