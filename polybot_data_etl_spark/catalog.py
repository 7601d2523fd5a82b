"""Table catalog: pinned schemas + parquet loaders.

Mirrors the reference's typed-row-model + repository layers
(SURVEY.md §1.1 [REC src/etl/.DS_Store:4368,4824]): every table has a
fixed, declared schema, and `table()` reads every fixture with it after
one parquet footer check — the one place that knows how a fixture table
is laid out, ns/µs timestamps included.

Schemas transcribed from the fixture files (FIXTURES.md).

Scale posture: loaders return plain schema-pinned parquet scans so
Catalyst keeps full pushdown/pruning freedom; nothing here collects or
caches implicitly. At 100 TB these same paths would point at a
date-partitioned lake layout — `PARTITION_HINTS` documents the layout each
table would use (and the sink tests in tests/test_sources.py exercise
`partitionBy` writes).
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

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
    """Load one fixture table, read with its pinned schema: no schema
    inference, so a cold table starts no Spark job.

    The parquet footer, read once inside the memoized build (`_footer`),
    decides the layout.  A missing pinned column or a physical type that
    does not read as the pinned type raises the named "fixture layout
    drift" RuntimeError — given a schema, the reader would fill a
    missing column with NULLs and read a UTC-adjusted timestamp as
    TIMESTAMP_NTZ without complaint.  A TIMESTAMP(NANOS) column (the
    round-1 fixture layout) is read as its raw long, which needs no
    `nanosAsLong` setting, and rebuilt to a µs TIMESTAMP_NTZ, truncating
    as DuckDB's ns→µs cast does.

    Memoized per (session, sf_dir, name): the suite's ~550 calls share
    one plan instead of re-paying the footer read and Py4J analysis.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return memo(
        spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # a missing default fixture dir fails here with the variable named,
    # not as an opaque read error deep in a plan (ADVICE r4)
    if not os.path.isdir(sf_dir):
        from polybot_data_etl_spark.config import SF_DIR_ENV

        raise ValueError(f"{SF_DIR_ENV}={sf_dir!r} is not a directory")
    path = f"{sf_dir}/{name}.parquet"
    problems, nanos = _footer(path, name)
    if problems:
        _drift(problems)
    schema = T.StructType(
        [
            T.StructField(f.name, T.LongType()) if f.name in nanos else f
            for f in SCHEMAS[name].fields
        ]
    )
    df = spark.read.schema(schema).parquet(path)
    if nanos:
        df = df.withColumns(
            {
                c: F.expr(
                    f"timestampadd(MICROSECOND, {c} div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                )
                for c in nanos
            }
        )
    return df


def _footer(path: str, name: str) -> tuple[list[str], list[str]]:
    """(drift problems, timestamp columns stored as ns) of ``path``'s
    parquet footer against ``SCHEMAS[name]``.  Footer only, no data IO;
    a directory of part files is read through its first part."""
    try:
        arrow_schema = ds.dataset(path, format="parquet").schema
    except (OSError, pa.ArrowException) as exc:
        return [f"{name}.parquet unreadable: {exc}"], []
    problems: list[str] = []
    nanos: list[str] = []
    for field in SCHEMAS[name].fields:
        i = arrow_schema.get_field_index(field.name)
        if i < 0:
            problems.append(f"{name}.{field.name}: column missing from fixture")
            continue
        physical = arrow_schema.field(i).type
        unit = getattr(physical, "unit", None)  # timestamps only
        try:
            reads_as = from_arrow_type(physical, prefer_timestamp_ntz=True)
        except TypeError:
            reads_as = None
        if reads_as != field.dataType or unit not in (None, "us", "ns"):
            problems.append(
                f"{name}.{field.name}: physical type {str(physical)!r} does"
                f" not read as the pinned {field.dataType.simpleString()}"
                " — fixture drifted; teach catalog.table() the new layout"
            )
        elif unit == "ns":
            nanos.append(field.name)
    return problems, nanos


def _drift(problems: list[str]) -> None:
    raise RuntimeError(
        "fixture layout drift detected:\n  " + "\n  ".join(problems)
    )


def check_fixture_layouts(sf_dir: str) -> None:
    """Run `table()`'s footer check over every table at once, naming
    every drifted column (cheap: run once per session / conftest)."""
    problems = [
        p for name in TABLES for p in _footer(f"{sf_dir}/{name}.parquet", name)[0]
    ]
    if problems:
        _drift(problems)


def check_drops(directory: str, name: str) -> None:
    """Footer-check every ``*.parquet`` file directly in ``directory``
    against ``SCHEMAS[name]`` as `table()` checks a fixture, and raise
    the named drift error listing each drifted file.  A timestamp stored
    as ns is drift here too: a stream reads with the pinned schema and
    has no `table()`-style rebuild of the raw long."""
    problems = []
    for path in sorted(glob.glob(os.path.join(directory, "*.parquet"))):
        drifted, nanos = _footer(path, name)
        problems += [
            f"{p} [{os.path.basename(path)}]"
            for p in drifted
            + [f"{name}.{c}: timestamp stored as ns, not µs" for c in nanos]
        ]
    if problems:
        _drift(problems)


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
