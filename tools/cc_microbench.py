"""CC-loop latency microbench: times connected_components on a synthetic
edge set shaped like the flagship pipeline's verified pairs (star components
from Zipf-planted clusters), optionally with AQE disabled inside the loop.

Usage: python tools/cc_microbench.py [--cores N] [--edges N] [--no-aqe]
                                     [--driver-finish N]
Prints one JSON line {cores, edges, aqe, elapsed_s, n_clusters, checksum}.

``--driver-finish N`` passes cc_driver_finish_edges=N so the same edge set
runs through the bounded driver union-find instead of the superstep loop —
the crossover measurement that sizes the config default (identical
checksum = identical clustering either way).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def planted_star_edges(n_edges: int, seed: int = 7):
    """(src, dst) string pairs: hub→member edges from Zipf-sized components
    plus a chain tail, mirroring the star-mode candidate shape."""
    rng = np.random.default_rng(seed)
    rows = []
    node = 0
    remaining = n_edges
    while remaining > 0:
        size = min(int(rng.zipf(1.5)) + 1, 500, remaining + 1)
        hub = node
        for m in range(node + 1, node + size):
            rows.append((f"img{hub:08d}", f"img{m:08d}"))
        node += size
        remaining -= size - 1
        # occasional bridge to the previous component (multi-hop chains)
        if rng.random() < 0.05 and hub > 0:
            rows.append((f"img{hub - 1:08d}", f"img{hub:08d}"))
            remaining -= 1
    return rows


def main() -> None:
    from mhap_spark.session import default_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=default_cores())
    ap.add_argument("--edges", type=int, default=900_000)
    ap.add_argument("--no-aqe", action="store_true")
    ap.add_argument("--driver-finish", type=int, default=0,
                    help="cc_driver_finish_edges cutoff (0 = pure loop)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mhap_spark.cluster import connected_components
    from mhap_spark.session import build_session

    spark = build_session(
        f"cc_micro_{args.cores}", master=f"local[{args.cores}]",
        extra={"spark.sql.adaptive.enabled": "false"} if args.no_aqe else None,
    )
    rows = planted_star_edges(args.edges)
    edges = spark.createDataFrame(rows, "src string, dst string").repartition(
        4 * args.cores
    ).persist()
    edges.count()
    verts = (
        edges.select(F.col("src").alias("image_id"))
        .unionByName(edges.select(F.col("dst").alias("image_id")))
        .distinct()
        .persist()
    )
    verts.count()

    # warmup (JIT) on a small slice — through the SAME branch the TIMED
    # call will take: the timed call drives the driver-finish path iff the
    # edge set is at or under the cutoff, so mirror that decision for the
    # 20k warmup slice (passing the raw cutoff would warm the WRONG branch
    # when 0 < cutoff < edges, leaving the loop's first-execution costs
    # inside the measurement)
    warm_finish = (
        args.driver_finish if 0 < args.driver_finish >= args.edges else 0
    )
    connected_components(
        edges.limit(20_000), verts.limit(100),
        driver_finish_edges=warm_finish,
    ).count()

    t0 = time.time()
    out = connected_components(
        edges, verts, driver_finish_edges=args.driver_finish
    ).persist()
    n = out.count()
    elapsed = time.time() - t0
    n_clusters = out.select("cluster_id").distinct().count()
    checksum = out.agg(
        F.coalesce(F.bit_xor(F.xxhash64("image_id", "cluster_id")), F.lit(0))
    ).collect()[0][0]
    print(
        json.dumps(
            {
                "cores": args.cores,
                "edges": len(rows),
                "aqe": not args.no_aqe,
                "driver_finish": args.driver_finish,
                "elapsed_s": round(elapsed, 2),
                "n_assignments": n,
                "n_clusters": n_clusters,
                "checksum": int(checksum),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
