#!/usr/bin/env python
"""Differential correctness check: every registered query's Spark result
vs its DuckDB oracle (row-count + schema class + order-insensitive
value-hash), mirroring the driver's t2 gate.

Usage:
  python scripts/check_oracle.py                  # all queries, sf0.001
  python scripts/check_oracle.py --sf 0.01        # driver's gate scale
  python scripts/check_oracle.py -q q_agg_q1 -q q_join_inner
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polybot_data_etl_spark.catalog import TABLES
from polybot_data_etl_spark.session import build_session
from polybot_data_etl_spark.testing import canon_frame
from __spark_entry__ import oracle_sql, queries


def dtype_class(dt) -> str:
    s = str(dt)
    if "int" in s:
        return "int"
    if "float" in s or "double" in s:
        return "float"
    if "datetime" in s:
        return "ts"
    if s == "bool" or "bool" in s:
        return "bool"
    return "other"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("-q", "--query", action="append", default=None)
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    spark = build_session(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = queries()
    oracles = oracle_sql()
    names = args.query or list(qs)
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    t_all = time.time()
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            n_rows_only += 1
            print(
                f"rows {name}: {len(spark_pd)} rows, cols={sorted(spark_pd.columns)}"
                f" ({time.time()-t0:.1f}s)"
            )
            continue
        try:
            duck_pd = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        sn, scols, shash, srows = canon_frame(spark_pd)
        dn, dcols, dhash, drows = canon_frame(duck_pd)
        stypes = [dtype_class(spark_pd[c].dtype) for c in scols]
        dtypes = [dtype_class(duck_pd[c].dtype) for c in dcols]
        ok = (sn == dn) and (scols == dcols) and (shash == dhash)
        if ok and stypes != dtypes:
            print(f"WARN {name}: dtype classes differ spark={stypes} duck={dtypes}")
        if ok:
            n_pass += 1
            print(f"PASS {name}: {sn} rows ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}:")
            print(f"  rows  spark={sn} duck={dn}")
            print(f"  cols  spark={scols} duck={dcols}")
            print(f"  types spark={stypes} duck={dtypes}")
            print(f"  hash  spark={shash} duck={dhash}")
            if sn and dn and scols == dcols:
                print("  spark sample:", srows[:3])
                print("  duck  sample:", drows[:3])
    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        f" of {len(names)} in {time.time()-t_all:.0f}s =="
    )
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
