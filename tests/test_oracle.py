"""Local mirror of the driver's t2 differential gate (SURVEY.md §5.2):
every registered hash-checked query vs its DuckDB oracle at sf0.001.
"""

from __future__ import annotations

import pytest

from polybot_data_etl_spark import registry
from polybot_data_etl_spark.testing import frames_match

ALL_QUERIES = sorted(registry.queries())
ORACLES = registry.oracles()


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    sdf = registry.queries()[name](spark, sf_dir)
    spark_pd = sdf.toPandas()
    if name not in ORACLES:
        # rows-only contract: runs, stable schema, deterministic re-run
        assert len(spark_pd) >= 0
        again = registry.queries()[name](spark, sf_dir).toPandas()
        ok, why = frames_match(spark_pd, again)
        assert ok, f"{name} not deterministic: {why}"
        return
    duck_pd = duck.execute(ORACLES[name]).fetchdf()
    ok, why = frames_match(spark_pd, duck_pd)
    assert ok, f"{name}: {why}"


@pytest.mark.parametrize(
    "name",
    [
        "q_agg_abc",
        "q_agg_rfm",
        "q_dq_id_gaps",
        "q_dq_rle",
        "q_win_dist_scaled",
        "q_win_weighted_median_scaled",
    ],
)
def test_bucketed_plan_at_forced_scale_matches_oracle(
    spark, duck, sf_dir, monkeypatch, name
):
    """The bucketed two-pass plans derive more than 32 buckets only
    above ~8M rows, which no fixture reaches.  One target row per
    bucket forces that branch at fixture size (128-1024 buckets: the
    count doubles past the row count up to the GRID cap) and the
    result must still hash-match the query's DuckDB oracle."""
    from polybot_data_etl_spark.plans import bounds

    counts = []
    real_cuts = bounds.grid_cuts

    def spy(grid, n):
        counts.append(n)
        return real_cuts(grid, n)

    monkeypatch.setattr(bounds, "TARGET_ROWS", 1)
    monkeypatch.setattr(bounds, "grid_cuts", spy)
    spark_pd = registry.queries()[name](spark, sf_dir).toPandas()
    assert counts and min(counts) >= 128, counts
    duck_pd = duck.execute(ORACLES[name]).fetchdf()
    ok, why = frames_match(spark_pd, duck_pd)
    assert ok, f"{name}: {why}"


@pytest.mark.parametrize("partitions", ["1", "64"])
def test_udaf_grouped_at_any_coarse_key_count_matches_oracle(
    spark, duck, sf_dir, partitions
):
    """q_udaf_grouped folds users into one pandas call per coarse key,
    pmod(xxhash64(user_id), shuffle partitions): one key holding every
    user and keys holding about one user each must give the oracle's
    per-user z-scores."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, partitions)
    try:
        spark_pd = registry.queries()["q_udaf_grouped"](spark, sf_dir).toPandas()
    finally:
        spark.conf.set(key, saved)
    duck_pd = duck.execute(ORACLES["q_udaf_grouped"]).fetchdf()
    ok, why = frames_match(spark_pd, duck_pd)
    assert ok, why


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(registry.queries())


def test_hll_merge_estimate_within_5pct(spark, duck, sf_dir):
    """The merged-sketch estimate (rows-only at the driver) must land
    within 5% of exact distinct truth per event type."""
    est = {
        r["event_type"]: r["approx_users"]
        for r in registry.queries()["q_agg_hll_merge"](spark, sf_dir).collect()
    }
    truth = dict(
        duck.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(est) == set(truth)
    for k, exact in truth.items():
        assert abs(est[k] - exact) <= max(1, 0.05 * exact), (
            k, est[k], exact
        )


def test_entry_smoke(spark):
    import __spark_entry__ as se

    rows = se.entry(spark).collect()
    assert len(rows) > 0
