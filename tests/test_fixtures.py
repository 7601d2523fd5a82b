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


def _copy_with_ts_unit(src: str, dst, unit: str):
    """Copy every fixture table into ``dst`` with the three timestamp
    columns re-stored as ``timestamp[unit]``; returns the dir path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dst.mkdir()
    for name in TABLES:
        tbl = pq.read_table(f"{src}/{name}.parquet")
        schema = pa.schema(
            [
                f.with_type(pa.timestamp(unit))
                if pa.types.is_timestamp(f.type)
                else f
                for f in tbl.schema
            ]
        )
        pq.write_table(tbl.cast(schema), dst / f"{name}.parquet")
    return str(dst)


def test_loader_handles_nanos_layout(spark, tmp_path):
    # The ns→µs rebuild path must still work if fixtures ever revert to
    # the original TIMESTAMP(NANOS) layout — on a session that never
    # sets spark.sql.legacy.parquet.nanosAsLong, like any plain session.
    import pyarrow as pa
    import pyarrow.parquet as pq

    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
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
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_nanos_orders_lineitem_match_oracle(spark, sf_dir, tmp_path):
    """All three timestamp columns stored as ns: every table keeps its
    pinned schema and q_agg_q1 (l_shipdate filter) hash-matches DuckDB
    reading the same ns copy."""
    import duckdb

    from polybot_data_etl_spark import registry
    from polybot_data_etl_spark.testing import frames_match

    ns_dir = _copy_with_ts_unit(sf_dir, tmp_path / "ns", "ns")
    for name in TABLES:
        assert_schema(table(spark, ns_dir, name), name)
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS"
            f" SELECT * FROM read_parquet('{ns_dir}/{name}.parquet')"
        )
    got = registry.queries()["q_agg_q1"](spark, ns_dir).toPandas()
    want = con.execute(registry.oracles()["q_agg_q1"]).fetchdf()
    ok, why = frames_match(got, want)
    assert ok, why
    assert len(got) > 0


def test_cold_tables_start_no_job(spark, sf_dir, tmp_path):
    """Reads are schema-pinned: a cold table() (memo miss) runs no
    schema-inference job."""
    import os

    cold = tmp_path / "cold"
    os.symlink(sf_dir, cold)  # a new sf_dir key: every table is a memo miss
    sc = spark.sparkContext
    group = "catalog-cold-read"
    sc.setJobGroup(group, group)
    try:
        frames = [table(spark, str(cold), name) for name in TABLES]
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [f.columns for f in frames] == [s.names for s in SCHEMAS.values()]
    assert jobs == []


def _write_orders(path, **overrides):
    """A 2-row orders parquet in the pinned layout, with named
    columns replaced (None drops the column)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_custkey": pa.array([7, 8], pa.int64()),
        "o_orderstatus": pa.array(["O", "F"]),
        "o_totalprice": pa.array([1.5, 2.5]),
        "o_orderdate": pa.array(
            [datetime.datetime(1995, 1, 1), datetime.datetime(1996, 2, 2)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(["1-URGENT", "5-LOW"]),
    }
    cols.update(overrides)
    pq.write_table(
        pa.table({k: v for k, v in cols.items() if v is not None}), path
    )


@pytest.mark.parametrize(
    "column, stored",
    [
        ("o_orderdate", None),  # missing: the reader would return NULLs
        ("o_totalprice", "string"),  # a type that cannot read as double
        ("o_orderdate", "utc"),  # UTC-adjusted: would read as NTZ silently
        ("o_orderdate", "ms"),  # neither fixture timestamp layout
        ("o_custkey", "int32"),  # narrower than the pinned bigint
    ],
)
def test_table_names_drifted_column(spark, tmp_path, column, stored):
    import pyarrow as pa

    values = {
        None: None,
        "string": pa.array(["1.5", "2.5"]),
        "utc": pa.array([0, 1], pa.timestamp("us", tz="UTC")),
        "ms": pa.array([0, 1], pa.timestamp("ms")),
        "int32": pa.array([7, 8], pa.int32()),
    }
    _write_orders(tmp_path / "orders.parquet", **{column: values[stored]})
    with pytest.raises(
        RuntimeError, match=rf"fixture layout drift detected:\n  orders\.{column}"
    ):
        table(spark, str(tmp_path), "orders")


def test_directory_of_parts_reads_like_one_file(spark, sf_dir, tmp_path):
    """A table written as a directory of part files (Spark's own writer
    and scripts/make_scaled_fixture.py do this) passes the footer check
    and reads the same rows as the single-file table."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/orders.parquet")
    parts = tmp_path / "orders.parquet"
    parts.mkdir()
    (parts / "_SUCCESS").write_text("")
    step = -(-src.num_rows // 3)
    for i in range(3):
        pq.write_table(
            src.slice(i * step, step), parts / f"part-{i:05d}.parquet"
        )
    df = table(spark, str(tmp_path), "orders")
    assert_schema(df, "orders")
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in table(spark, sf_dir, "orders").collect())
    assert got == want


def test_only_catalog_and_repository_read_parquet():
    """catalog is the one module that knows a fixture table's layout:
    no other package module opens a batch parquet read (`.read…parquet`
    or `.read.format("parquet")`); the versioned repository reads the
    snapshots it wrote itself."""
    import ast
    import pathlib

    import polybot_data_etl_spark

    root = pathlib.Path(polybot_data_etl_spark.__file__).parent
    allowed = {"catalog.py", "sources/repository.py"}

    def reads_batch(node) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.value if isinstance(node, ast.Attribute) else node.func
        return False

    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
            ):
                continue
            func = node.func
            parquet = func.attr == "parquet" or (
                func.attr == "format"
                and any(
                    isinstance(a, ast.Constant) and a.value == "parquet"
                    for a in node.args
                )
            )
            if parquet and reads_batch(func.value) and rel not in allowed:
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
