"""NULL-injection audit: every registered query vs fixtures with NULLs
salted into every nullable non-key column.

The 0-row/1-row audit (audit_empty.py) covered empty partitions and
singleton groups; this covers the third 100 TB reality the clean
fixtures never exercise: NULL cells in data columns (failed upstream
extraction, optional fields, schema evolution).  A query that crashes
on a NULL text/props/event_type cell is a pipeline pager; the correct
behavior is to skip, NULL-propagate, or bucket NULLs explicitly —
crash is never acceptable.

Deterministic injection: row is salted when pmod(hash(<key>), 10) == 0
(~10% of rows), so re-runs audit the same cells.  Key columns
(*_key, doc_id, vec_id, event_id) stay intact — NULL keys are a
different audit (referential integrity, covered by q_dq_orphans).

Usage: python scripts/audit_nulls.py  → exit 1 if any query crashes.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import TABLES, table
from polybot_data_etl_spark.session import build_session
from scripts.audit_empty import run_audit

# columns that stay non-NULL: join/group keys and identity columns —
# nulling those audits a different invariant (and the fixtures declare
# them implicitly non-null through the FK relationships)
_KEEP = {
    "doc_id", "vec_id", "event_id",
}


def is_key(col: str) -> bool:
    return col in _KEEP or col.endswith("key")


def make_nulled_fixtures(spark, src: str, out: str) -> None:
    for t in TABLES:
        df = table(spark, src, t)
        key = next(
            (c for c in df.columns if is_key(c)), df.columns[0]
        )
        salted = F.pmod(F.hash(F.col(key)), F.lit(10)) == 0
        cols = []
        for field in df.schema.fields:
            if is_key(field.name):
                cols.append(F.col(field.name))
            else:
                cols.append(
                    F.when(salted, F.lit(None).cast(field.dataType))
                    .otherwise(F.col(field.name))
                    .alias(field.name)
                )
        df.select(*cols).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )


def main() -> int:
    spark = build_session(
        app_name="null-audit",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="nulls_")
    try:
        make_nulled_fixtures(spark, "/root/testdata/sf0.001", work)
        errs = run_audit(spark, work, "nulls")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
