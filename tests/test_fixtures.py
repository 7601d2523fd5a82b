"""Fixture schema pinning (SURVEY.md §5.5): catches driver regeneration
or Spark type-mapping drift explicitly."""

from __future__ import annotations

import pytest

from polybot_data_etl_spark.catalog import (
    SCHEMAS,
    TABLES,
    assert_schema,
    check_fixture_layouts,
    table,
)

EXPECTED_ROWS_SF0001 = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


@pytest.mark.parametrize("name", TABLES)
def test_schema_pinned(spark, sf_dir, name):
    assert_schema(table(spark, sf_dir, name), name)


@pytest.mark.parametrize("name", TABLES)
def test_row_counts(spark, sf_dir, name):
    assert table(spark, sf_dir, name).count() == EXPECTED_ROWS_SF0001[name]


def test_unknown_table_rejected(spark, sf_dir):
    with pytest.raises(KeyError):
        table(spark, sf_dir, "nope")


def test_embeddings_are_unit_norm(spark, sf_dir):
    from pyspark.sql import functions as F

    from polybot_data_etl_spark.functions.vectors import l2_norm

    bad = (
        table(spark, sf_dir, "embeddings")
        .select(F.round(l2_norm(F.col("embedding")), 4).alias("n"))
        .filter(F.col("n") != 1.0)
        .count()
    )
    assert bad == 0


def test_all_schemas_cover_tables():
    assert set(SCHEMAS) == set(TABLES)


def test_layout_canary_passes_on_fixtures(sf_dir):
    # Current fixtures (µs since round 2's regeneration; the canary also
    # accepts the original ns layout) must be a supported layout.
    check_fixture_layouts(sf_dir)


def test_layout_canary_names_drifted_column(tmp_path):
    # Synthesize a drift: events.ts as raw int64 (neither supported
    # timestamp layout). The canary must fail and name the column.
    import pyarrow as pa
    import pyarrow.parquet as pq

    drift = tmp_path / "drift"
    drift.mkdir()
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([1], pa.int64())}),
        drift / "events.parquet",
    )
    pq.write_table(
        pa.table({"o_orderdate": pa.array([1], pa.timestamp("us"))}),
        drift / "orders.parquet",
    )
    pq.write_table(
        pa.table({"l_shipdate": pa.array([1], pa.timestamp("us"))}),
        drift / "lineitem.parquet",
    )
    with pytest.raises(RuntimeError, match=r"events\.ts"):
        check_fixture_layouts(str(drift))


def test_loader_handles_nanos_layout(spark, tmp_path):
    # The ns→µs rebuild path must still work if fixtures ever revert to
    # the original TIMESTAMP(NANOS) layout.
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_dir = tmp_path / "ns"
    ns_dir.mkdir()
    micros = [1_700_000_000_000_000, 1_700_000_060_000_000]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([m * 1000 for m in micros],
                               pa.timestamp("ns")),
                "user_id": pa.array([10, 11], pa.int64()),
                "event_type": pa.array(["a", "b"]),
                "value": pa.array([1.0, 2.0]),
                "props": pa.array(["{}", "{}"]),
            }
        ),
        ns_dir / "events.parquet",
    )
    df = table(spark, str(ns_dir), "events")
    assert_schema(df, "events")
    got = [r.ts for r in df.orderBy("event_id").collect()]
    import datetime

    assert got == [
        datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=m)
        for m in micros
    ]
