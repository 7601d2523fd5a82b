#!/usr/bin/env python
"""Two-run determinism audit over the registered query suite.

A query is *deterministic* for our purposes when its canonical hash
(the driver's order-insensitive value hash) is identical under
  - a different `spark.sql.shuffle.partitions` (8 vs 17), AND
  - a row-shuffled, re-chunked copy of every input table (different
    file split -> different partial-aggregation order on the scan).

Raw floating-point sums are the classic violator: Σ double is
order-dependent in the last ulp, and a re-round only pins it when the
value is not sitting on a rounding boundary (the q_stats_fdr r6 driver
flake). Every query flagged here should move its moments onto exact
integer cents (the q_ts_anomaly recipe) or an equivalent
order-independent representation.

Usage:
  python scripts/audit_determinism.py                 # all, sf0.001
  python scripts/audit_determinism.py --sf 0.01
  python scripts/audit_determinism.py -q q_stats_fdr -q q_stats_ttest
  python scripts/audit_determinism.py --keep-shuffled  # reuse copy
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import TABLES, table
from polybot_data_etl_spark.session import build_session
from scripts.check_oracle import canon_frame
from __spark_entry__ import queries


def make_shuffled_copy(spark, src_dir: str, dst_dir: str) -> None:
    """Write a row-shuffled, re-chunked copy of every table.

    Deterministic shuffle (xxhash64 of all columns, salted) so the
    audit itself is reproducible; coalesce(3) forces a different file
    split from the pristine single-file tables, which changes Spark's
    scan partitioning and therefore partial-agg merge order.
    """
    os.makedirs(dst_dir, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(dst_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = table(spark, src_dir, t)
        cols = [F.col(c).cast("string") for c in df.columns]
        shuffled = (
            df.withColumn(
                "__aud_h", F.xxhash64(F.concat_ws("\x1f", *cols), F.lit(t))
            )
            .repartition(3, "__aud_h")
            .sortWithinPartitions("__aud_h")
            .drop("__aud_h")
        )
        shuffled.write.mode("overwrite").parquet(dst)


def run_pass(spark, qs, names, sf_dir, label):
    out = {}
    for name in names:
        t0 = time.time()
        try:
            pdf = qs[name](spark, sf_dir).toPandas()
            n, cols, h, _ = canon_frame(pdf)
            out[name] = (n, h, None)
        except Exception as exc:  # noqa: BLE001 - audit must keep going
            out[name] = (None, None, f"{type(exc).__name__}: {exc}")
            traceback.print_exc()
        print(f"  [{label}] {name}: {out[name][1] or 'ERR'}"
              f" ({time.time()-t0:.1f}s)", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("-q", "--query", action="append", default=None)
    ap.add_argument("--keep-shuffled", action="store_true")
    ap.add_argument(
        "--shuffled-dir", default=None,
        help="where the perturbed table copy lives (default /tmp)",
    )
    args = ap.parse_args()
    src_dir = f"/root/testdata/sf{args.sf}"
    dst_dir = args.shuffled_dir or f"/tmp/audit_determinism_sf{args.sf}"

    spark = build_session(shuffle_partitions=8)
    qs = queries()
    names = args.query or list(qs)

    t_all = time.time()
    print(f"== pass A: pristine {src_dir}, shuffle.partitions=8 ==")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    a = run_pass(spark, qs, names, src_dir, "A")

    print(f"== building shuffled copy at {dst_dir} ==")
    if not args.keep_shuffled and os.path.isdir(dst_dir):
        shutil.rmtree(dst_dir)
    make_shuffled_copy(spark, src_dir, dst_dir)

    print(f"== pass B: shuffled {dst_dir}, shuffle.partitions=17 ==")
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    # new session-scoped caches must not reuse pass-A scan frames
    spark.catalog.clearCache()
    b = run_pass(spark, qs, names, dst_dir, "B")

    unstable, errors = [], []
    for name in names:
        an, ah, aerr = a[name]
        bn, bh, berr = b[name]
        if aerr or berr:
            errors.append((name, aerr or berr))
        elif ah != bh or an != bn:
            unstable.append((name, an, ah, bn, bh))
    print(f"\n== determinism audit: {len(names)} queries,"
          f" {len(unstable)} unstable, {len(errors)} errored,"
          f" {time.time()-t_all:.0f}s ==")
    for name, an, ah, bn, bh in unstable:
        print(f"UNSTABLE {name}: A rows={an} hash={ah}"
              f" | B rows={bn} hash={bh}")
    for name, err in errors:
        print(f"ERROR {name}: {err}")
    return 1 if (unstable or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
