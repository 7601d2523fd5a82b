"""Bucket bounds for the bucketed two-pass plans (q_dq_rle,
q_dq_id_gaps, q_agg_rfm, q_agg_abc, q_win_dist_scaled,
q_win_weighted_median_scaled).

Every one of them buckets its rows through :func:`add_buckets`: ONE
synchronous ``percentile_approx(...).first()`` samples the row count
and a fixed quantile grid of every bucketed column (the
RangePartitioner precedent), measured 4-7 s cold at sf0.1 across four
names (SCALE.md, commit 290866b).  The sample is deterministic in
(fixture dir, source frame, grid), so it is taken through
``plans.memo.memo``: only the first build in a session runs the job,
later builds issue NO Spark job (asserted in tests/test_round12.py).

The bucket count derives from the sampled row count (guide §2.2:
derive partition counts from input size) — a power of two ≈ rows /
``TARGET_ROWS``, clamped to [``MIN_BUCKETS``, ``GRID``].  The floor of
32 keeps every sub-8M-row input on the historical fixed-32 plan: the
grid subsample at stride GRID/n lands on exactly the i/n quantiles of
the same sketch.  The assignment is a balanced comparison ladder —
O(log n) codegen'd CASE nesting computing exactly ``count(cuts <=
col)`` including the NULL case — instead of the interpreted
``size(filter(array(cuts), x -> x <= col))`` HOF, measured 3× slower
at 32 cuts and 6× at 256.

The four tuning values are module constants read at call time, so a
test forces another bucket count by monkeypatching one of them.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polybot_data_etl_spark.plans.memo import memo

GRID = 1024  # sampled quantile grid points + 1; also the bucket-count cap
MIN_BUCKETS = 32
TARGET_ROWS = 250_000
ACCURACY = 10_000  # percentile_approx accuracy


def add_buckets(
    spark: SparkSession, key: tuple, df: DataFrame, cols: dict[str, str]
) -> DataFrame:
    """``df`` plus one bucket-index column per ``cols`` entry (bucket
    column name → SQL expression it buckets), all sampled in ONE job
    memoized under ``key``.  Buckets are value RANGES in ascending
    order, so (bucket, value order) is the global value order."""
    probe = memo(
        spark, (*key, GRID, ACCURACY), lambda: probe_rows_and_grid(df, cols)
    )
    n = derived_bucket_count(probe["rows"])
    for name, sql in cols.items():
        cuts = grid_cuts(probe["grids"][name], n)
        df = df.withColumn(name, F.expr(bucket_index_sql(cuts, sql)))
    return df


def probe_rows_and_grid(df: DataFrame, cols: dict[str, str]) -> dict:
    """ONE sampling job: the row count + the (GRID−1)-point quantile
    grid of every ``cols`` expression (plain Python values — memo-safe)."""
    qs = [i / GRID for i in range(1, GRID)]
    rows, *grids = df.agg(
        F.count(F.lit(1)),
        *(F.percentile_approx(F.expr(s), qs, ACCURACY) for s in cols.values()),
    ).first()
    return {
        "rows": int(rows),
        "grids": {name: list(g or []) for name, g in zip(cols, grids)},
    }


def derived_bucket_count(rows: int) -> int:
    """Power-of-two bucket count ≈ rows / TARGET_ROWS, clamped to
    [MIN_BUCKETS, GRID] (GRID bounds the boundary-stitch summary and
    matches the sampled grid)."""
    n = MIN_BUCKETS
    while n < GRID and rows // TARGET_ROWS > n:
        n *= 2
    return n


def grid_cuts(grid: list, n: int) -> list:
    """The i/n quantile cut points (0 < i < n), read off the sampled
    grid — exact for power-of-two n: grid index i·GRID/n − 1 holds
    quantile i/n — as sorted distinct values."""
    if not grid:
        return []
    picks = {grid[i * GRID // n - 1] for i in range(1, n)}
    # Spark's order (NaN above +inf); Python's sort is undefined on NaN
    return sorted(picks, key=lambda v: (v != v, v))


def bucket_index_sql(cuts: list, col_sql: str) -> str:
    """`count(cuts <= col)` — the bucket index against sorted distinct
    cut literals — as a balanced CASE ladder (codegen'd, O(log B) per
    row; exactly equivalent to size(filter(array(cuts), x -> x <=
    col)), including NULL → 0)."""

    def lit(v) -> str:
        if isinstance(v, int):
            return f"{v}L"
        v = float(v)
        # repr() gives inf/-inf/nan, which are not SQL literals
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('%sInfinity' AS DOUBLE)" % ("-" if v < 0 else "")
        return f"CAST({v!r} AS DOUBLE)"

    def rec(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN {lit(cuts[mid])} <= {col_sql}"
            f" THEN {rec(mid + 1, hi)} ELSE {rec(lo, mid)} END)"
        )

    if not cuts:
        return "0"
    return rec(0, len(cuts))
