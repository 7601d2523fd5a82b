"""NaN-injection audit: every registered query vs fixtures with NaN
salted into every double/float non-key column.

Third leg of the degenerate-input program (audit_empty.py: empty
partitions + singleton groups; audit_nulls.py: NULL data cells): NaN
is what bad upstream math ships (0/0, overflow, corrupted floats),
and it has TWO crash modes the others don't exercise:

- ANSI ``CAST(NaN AS BIGINT)`` raises CAST_OVERFLOW — this broke the
  exact-cents pattern (`round(x*100).cast("bigint")`) in 16 queries;
  all now use ``try_cast`` (NaN → NULL cents, which sums skip — the
  NaN-as-missing posture, value-identical on clean data).
- Spark orders NaN ABOVE every number (unlike SQL NULL), so a
  ``>= k`` filter meant to bound a domain ADMITS NaN — q_dq_benford's
  first-digit filter needed an explicit ``~isnan`` (DuckDB agrees on
  the clean fixtures, so the oracle is unchanged).

Usage: python scripts/audit_nan.py  → exit 1 if any query crashes.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from polybot_data_etl_spark.catalog import TABLES, table
from polybot_data_etl_spark.session import build_session
from scripts.audit_empty import run_audit
from scripts.audit_nulls import is_key


def make_nan_fixtures(spark, src: str, out: str) -> None:
    for t in TABLES:
        df = table(spark, src, t)
        key = next((c for c in df.columns if is_key(c)), df.columns[0])
        salted = F.pmod(F.hash(F.col(key)), F.lit(10)) == 0
        cols = []
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.DoubleType, T.FloatType)
            ) and not is_key(f.name):
                cols.append(
                    F.when(salted, F.lit(float("nan")).cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        df.select(*cols).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )


def main() -> int:
    spark = build_session(
        app_name="nan-audit",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="nan_")
    try:
        make_nan_fixtures(spark, "/root/testdata/sf0.001", work)
        errs = run_audit(spark, work, "nan")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
