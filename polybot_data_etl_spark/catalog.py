"""Table catalog: pinned schemas + parquet loaders.

Mirrors the reference's typed-row-model + repository layers
(SURVEY.md §1.1 [REC src/etl/.DS_Store:4368,4824]): every table has a
fixed, declared schema; reads are schema-on-file (Parquet self-describes)
with an explicit StructType assertion available for tests.

Schemas transcribed from the driver fixtures (FIXTURES.md, read from
/root/testdata/sf0.001/*.parquet).

Scale posture: loaders return plain `spark.read.parquet` DataFrames so
Catalyst keeps full pushdown/pruning freedom; nothing here collects or
caches implicitly. At 100 TB these same paths would point at a
date-partitioned lake layout — `partition_hint` documents the layout each
table would use (and the sink tests in tests/test_sources.py exercise
`partitionBy` writes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polybot_data_etl_spark.plans.memo import memo

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)

# 100 TB layout note per table: how the lake would be partitioned/bucketed
# so the §2 query mix prunes and co-locates (SCALE.md has the full design).
PARTITION_HINTS: dict[str, str] = {
    "lineitem": "partitionBy(month(l_shipdate)); bucketBy(l_orderkey) for the orders join",
    "orders": "partitionBy(month(o_orderdate)); bucketBy(o_orderkey)",
    "events": "partitionBy(date(ts)) — event-time pruning for window/session queries",
    "documents": "hash-distributed by doc_id; no natural time key",
    "embeddings": "hash-distributed by vec_id; co-bucket with documents.doc_id",
    "customer": "small dim — broadcast candidate",
    "supplier": "small dim — broadcast candidate",
    "part": "small dim — broadcast candidate",
    "nation": "tiny dim — broadcast always",
    "region": "tiny dim — broadcast always",
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (schema-on-file).

    events.ts has shipped in two physical parquet layouts across fixture
    generations: TIMESTAMP(MICROS) (reads directly as TIMESTAMP_NTZ, the
    pinned type) and TIMESTAMP(NANOS) (Spark 4 refuses it as a timestamp
    unless `spark.sql.legacy.parquet.nanosAsLong` maps it to raw long).
    We dispatch on the dtype the reader actually produced: a LongType
    `ts` means the nanos layout, so rebuild a µs TIMESTAMP_NTZ (lossless:
    the ns fixtures were µs-resolution, and DuckDB's ns→µs cast truncates
    identically); a timestamp `ts` passes through untouched. The
    nanosAsLong conf itself is set once at session construction
    (session.build_session) — harmless on µs files, required for ns ones.

    Memoized per (session, sf_dir, name): consumers share the immutable
    plan instead of re-paying a footer read + schema analysis (~20-90 ms
    of Py4J) on each of the suite's ~550 calls.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return memo(
        spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Lazy data-dir validation (ADVICE r4): config.from_env only checks
    # the fixture-dir env var when it is explicitly set, so a missing
    # machine-default dir must still fail HERE with the variable named
    # (config.SF_DIR_ENV), not as an opaque parquet read error deep in
    # a plan.
    import os

    if not os.path.isdir(sf_dir):
        from polybot_data_etl_spark.config import SF_DIR_ENV

        raise ValueError(f"{SF_DIR_ENV}={sf_dir!r} is not a directory")
    try:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    except Exception:
        if name != "events":
            raise
        # External session + TIMESTAMP(NANOS) layout: the reader refuses
        # ns timestamps unless nanosAsLong is on. Engine sessions set it
        # at construction; cover the external-session path once here.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


# Physical parquet layouts the engine's loaders understand, per column
# that has ever drifted between fixture generations. Checked by
# `check_fixture_layouts` — the fail-fast canary that turns a driver
# fixture regeneration into one clear message instead of dozens of
# opaque AnalysisExceptions deep inside query plans (the round-2
# failure mode: events.ts silently moved ns→µs).
_SUPPORTED_PHYSICAL: dict[tuple[str, str], tuple[str, ...]] = {
    ("events", "ts"): ("timestamp[us]", "timestamp[ns]"),
    ("orders", "o_orderdate"): ("timestamp[us]", "timestamp[ns]"),
    ("lineitem", "l_shipdate"): ("timestamp[us]", "timestamp[ns]"),
}


def check_fixture_layouts(sf_dir: str) -> None:
    """Fail fast (with the drifted column named) if any fixture parquet
    uses a physical layout the loaders don't handle.

    Reads footer metadata only (pyarrow schema, no data IO) so it is
    cheap enough to run once per session / conftest.
    """
    import pyarrow.parquet as pq

    problems: list[str] = []
    for (tbl, col), allowed in _SUPPORTED_PHYSICAL.items():
        try:
            arrow_schema = pq.read_schema(f"{sf_dir}/{tbl}.parquet")
        except Exception as exc:  # noqa: BLE001 — report, don't mask
            problems.append(f"{tbl}.parquet unreadable: {exc}")
            continue
        if col not in arrow_schema.names:
            problems.append(f"{tbl}.{col}: column missing from fixture")
            continue
        actual = str(arrow_schema.field(col).type)
        if actual not in allowed:
            problems.append(
                f"{tbl}.{col}: physical type {actual!r} not in supported"
                f" layouts {allowed} — fixture drifted; teach"
                " catalog.table() the new layout"
            )
    if problems:
        raise RuntimeError(
            "fixture layout drift detected:\n  " + "\n  ".join(problems)
        )


def register_views(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """Register the named tables as temp views for the Spark SQL surface."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def assert_schema(df: DataFrame, name: str) -> None:
    """Assert a loaded table matches the pinned schema (test helper)."""
    expected = SCHEMAS[name]
    got = df.schema
    exp_fields = [(f.name, f.dataType.simpleString()) for f in expected.fields]
    got_fields = [(f.name, f.dataType.simpleString()) for f in got.fields]
    if exp_fields != got_fields:
        raise AssertionError(
            f"schema drift for {name}: expected {exp_fields}, got {got_fields}"
        )
