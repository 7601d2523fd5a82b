#!/usr/bin/env python
"""Degenerate-input audit: run EVERY registered query against (a) a
0-row copy and (b) a 1-row copy of all fixture tables (identical
schemas) and report any exception.

At 100 TB, empty partitions, late-arriving tables, match-nothing
filters, and SINGLETON GROUPS (one user, one day, one class) are
routine — a query that crashes on them is a pipeline pager.  Round-6
findings (all fixed): q_embed_pca's driver-side power iteration
multiplied the Nones a 0-row moment agg returns;
q_dedup_capture_recapture's coverage ratios hit ANSI DIVIDE_BY_ZERO on
a 0 Chapman estimate; and 37 statistics queries crashed on 1-row input
where a variance / n−1 / class-count denominator degenerates to 0 —
each now returns NULL for the undefined statistic via `try_divide`
(value-identical to plain `/` on every non-degenerate input, so the
DuckDB oracle hashes are unchanged — re-verified tri-scale).

Usage:  python scripts/audit_empty.py [--mode empty|one|both]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polybot_data_etl_spark.catalog import TABLES, table
from polybot_data_etl_spark.session import build_session


def make_fixtures(spark, src: str, out: str, n_rows: int) -> None:
    for t in TABLES:
        df = table(spark, src, t)
        df.limit(n_rows).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )


def run_audit(spark, fixture_dir: str, label: str) -> dict[str, str]:
    """Run every registered query over ``fixture_dir`` to a noop sink;
    print and return {query: error}.  Shared by audit_nulls.py and
    audit_nan.py."""
    from polybot_data_etl_spark import registry
    from polybot_data_etl_spark.functions.dedup import clear_pair_cache

    clear_pair_cache()
    ok, errs = 0, {}
    for name, fn in registry.queries().items():
        try:
            fn(spark, fixture_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            ok += 1
        except Exception as exc:  # noqa: BLE001 — audit, report all
            errs[name] = f"{type(exc).__name__}: {str(exc)[:160]}"
    clear_pair_cache()
    print(f"[{label}] OK {ok} / {ok + len(errs)}")
    for k, v in sorted(errs.items()):
        print(f" [{label}] ERR", k, v)
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["empty", "one", "both"],
                    default="both")
    args = ap.parse_args()

    spark = build_session(
        app_name="degenerate-audit",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    failed = False
    for label, n_rows in (("empty", 0), ("one-row", 1)):
        if args.mode != "both" and not label.startswith(args.mode):
            continue
        work = tempfile.mkdtemp(prefix=f"degen_{n_rows}_")
        try:
            make_fixtures(spark, "/root/testdata/sf0.001", work, n_rows)
            failed |= bool(run_audit(spark, work, label))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
