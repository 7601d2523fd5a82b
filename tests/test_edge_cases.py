"""Boundary-condition regression tests from the round-4 review
(VERDICT #6 + ADVICE): exact-gap session semantics, empty-document
segmentation, the component_labels column contract, lazy sf_dir
validation, and the pr-curve full-grid contract.

These run the REGISTERED query builders against synthetic fixture dirs
that contain exactly the edge rows the shipped fixtures lack, and
differentially compare with the registered DuckDB oracle — the same
gate shape as the driver, aimed at the corner."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pytest

from pyspark.sql import functions as F

from polybot_data_etl_spark import registry
from polybot_data_etl_spark.catalog import SCHEMAS
from polybot_data_etl_spark.testing import frames_match


def _write_fixture(spark, tmp_path, name: str, rows) -> str:
    """Write rows as {tmp}/{name}.parquet in the pinned schema; returns
    the fixture dir path."""
    d = str(tmp_path)
    spark.createDataFrame(rows, SCHEMAS[name]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/{name}.parquet")
    return d


def _oracle_frame(sf_dir: str, name: str, sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {name} AS"
        f" SELECT * FROM read_parquet('{sf_dir}/{name}.parquet/*.parquet')"
    )
    return con.execute(sql).df()


def _check(spark, sf_dir: str, qname: str, table_name: str):
    got = registry.queries()[qname](spark, sf_dir).toPandas()
    want = _oracle_frame(sf_dir, table_name, registry.oracles()[qname])
    ok, msg = frames_match(got, want)
    assert ok, f"{qname}: {msg}"
    return got


_TS0 = datetime(2024, 3, 1, 0, 0, 0)


def _ev(i, ts, user):
    return (i, ts, user, "view", 1.0, "{}")


def test_session_exact_gap_boundary(spark, tmp_path):
    """Events spaced EXACTLY 30 minutes apart EXTEND the session: Spark
    session_window's end is last_event + gap and an event landing on
    that end point merges (verified against a bare session_window in
    this test's development — writing this test caught the r4 oracle's
    `>=` break as wrong; it is now strict `>`).  VERDICT r4 #6."""
    rows = [
        # user 1: three events exactly 30 min apart -> ONE session
        _ev(1, datetime(2024, 3, 1, 0, 0, 0), 1),
        _ev(2, datetime(2024, 3, 1, 0, 30, 0), 1),
        _ev(3, datetime(2024, 3, 1, 1, 0, 0), 1),
        # user 2: gap one second SHORT of 30 min -> 1 session
        _ev(4, datetime(2024, 3, 1, 0, 0, 0), 2),
        _ev(5, datetime(2024, 3, 1, 0, 29, 59), 2),
        # user 3: gap one second PAST 30 min -> 2 sessions
        _ev(6, datetime(2024, 3, 1, 0, 0, 0), 3),
        _ev(7, datetime(2024, 3, 1, 0, 30, 1), 3),
    ]
    d = _write_fixture(spark, tmp_path, "events", rows)
    got = _check(spark, d, "q_ts_session", "events")
    n_sessions = got.groupby("user_id").size().to_dict()
    assert n_sessions == {1: 1, 2: 1, 3: 2}


def test_concurrency_exact_gap_boundary(spark, tmp_path):
    """The sweep-line concurrency query shares the sessionization; the
    exact-gap sessions must also agree with the oracle end-to-end."""
    rows = [
        _ev(1, datetime(2024, 3, 1, 0, 0, 0), 1),
        _ev(2, datetime(2024, 3, 1, 0, 30, 0), 1),
        _ev(3, datetime(2024, 3, 1, 0, 10, 0), 2),
        _ev(4, datetime(2024, 3, 1, 0, 40, 0), 2),
        # session crossing midnight (segment split path)
        _ev(5, datetime(2024, 3, 1, 23, 50, 0), 3),
    ]
    d = _write_fixture(spark, tmp_path, "events", rows)
    _check(spark, d, "q_ts_concurrency", "events")


_DOC_ROWS = [
    (1, "alpha beta gamma delta " * 4, "en", "web", 92),
    (2, "alpha beta gamma delta " * 4, "en", "web", 92),
    (3, "", "en", "web", 0),  # empty doc: sequence(1, 0, k) territory
]


@pytest.mark.parametrize(
    "qname", ["q_dedup_paragraph", "q_text_boilerplate", "q_text_chunk"]
)
def test_empty_doc_segmentation(spark, tmp_path, qname):
    """n_chars=0 documents must be a silent no-op in the char-window
    segmentation operators, not a Spark sequence() crash diverging from
    DuckDB's empty generate_series (ADVICE r4)."""
    d = _write_fixture(spark, tmp_path, "documents", _DOC_ROWS)
    got = _check(spark, d, qname, "documents")
    if "doc_id" in got.columns:
        assert 3 not in set(got["doc_id"])


def test_component_labels_rejects_extra_columns(spark):
    """The local union-find path reads endpoints by NAME; a frame with
    extra/renamed columns must raise, never silently corrupt the edge
    list (ADVICE r4)."""
    from polybot_data_etl_spark.functions.dedup import component_labels

    bad = spark.createDataFrame(
        [(1, 2, 9)], "a_id long, b_id long, extra long"
    )
    with pytest.raises(ValueError, match="a_id/b_id"):
        component_labels(bad)


def test_missing_sf_dir_names_the_knob(spark):
    """A nonexistent fixture dir must fail at table() with the env var
    named — not as an opaque parquet read error (ADVICE r4)."""
    from polybot_data_etl_spark.catalog import table

    with pytest.raises(ValueError, match="SPARK_GRAFT_SF_DIR"):
        table(spark, "/no/such/fixture/dir", "documents")


def test_pr_curve_emits_full_threshold_grid(spark, sf_dir):
    """All 10 grid thresholds appear even if no score reaches one (the
    grid side is a LEFT join — ADVICE r4); thresholds are exact."""
    got = registry.queries()["q_ml_pr_curve"](spark, sf_dir).toPandas()
    assert sorted(got["threshold"]) == [i / 10 for i in range(10)]
