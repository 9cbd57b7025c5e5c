"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash (floats canonicalized).

Usage: python tools/check_contract.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None

    # the sequential-replica oracles read THIS env var at entry-module
    # import — without it a non-default sf_dir would run Spark on one
    # corpus and every data-dependent oracle on sf0.01, printing spurious
    # FAILs that look like engine bugs
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    from mhap_spark.session import build_session
    import __spark_entry__ as entrymod

    spark = build_session("contract_check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    # build only the requested oracles — the sequential replicas are the
    # expensive part of a single-query check
    oracles = entrymod.oracle_sql(names=only)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            # every queries() entry currently has an oracle — this branch
            # exists for future rows-only additions, with a plain warning
            print(f"rows  {name}: {len(rows)} rows, cols={cols} ({el:.1f}s)")
            if len(rows) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_n = len(rows) == len(orows)
        ok_c = sorted(cols) == sorted(ocols)
        ok_h = ok_c and value_hash(cols, rows) == value_hash(ocols, orows)
        if ok_n and ok_c and ok_h:
            print(f"OK    {name}: {len(rows)} rows ({el:.1f}s)")
        else:
            failures += 1
            print(
                f"FAIL  {name}: rows {len(rows)} vs {len(orows)}, "
                f"cols {sorted(cols)} vs {sorted(ocols)}, hash_ok={ok_h}"
            )
            if ok_c and not ok_h and rows and orows:
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                s_set = {"|".join(canon(r[i]) for i in order) for r in rows}
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                o_set = {"|".join(canon(r[i]) for i in oorder) for r in orows}
                extra = sorted(s_set - o_set)[:3]
                miss = sorted(o_set - s_set)[:3]
                print(f"      spark-only: {extra}")
                print(f"      oracle-only: {miss}")
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
