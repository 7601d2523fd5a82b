"""Deliberate Python-UDF surface (SURVEY.md §2 #71-74): scalar UDF,
Arrow-vectorized pandas UDF, grouped-map UDF (applyInPandas), and a
Spark 4 Python UDTF.

These exist to prove the extension surface, not for the hot path — every
operator that *can* stay JVM-side does (scalar.py / text.py / vectors.py).
The pandas variants ride Arrow batches (columnar transfer, ~10-100× the
row-at-a-time pickling path); the grouped-map shuffles once on its
grouping key, so it scales like any other keyed aggregation.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf
from pyspark.sql.types import DoubleType, StringType

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.registry import register

_NON_ALNUM = re.compile(r"[^a-z0-9 ]")


@udf(returnType=StringType(), useArrow=False)
def normalize_text(text):
    """Row-at-a-time scalar UDF: lowercase + strip non-alphanumerics."""
    if text is None:
        return None
    return _NON_ALNUM.sub("", text.lower())


@register(
    "q_udf_python",
    oracle="""
    SELECT doc_id,
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm_text
    FROM documents WHERE doc_id < 100
    """,
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF text normalizer (bounded input — this is the
    slow path by design; see module docstring)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select("doc_id", normalize_text(F.col("text")).alias("norm_text"))


@pandas_udf(DoubleType())
def l2_norm_arrow(emb: pd.Series) -> pd.Series:
    """Arrow-vectorized L2 norm over an array<float> column; the whole
    batch arrives as one Arrow buffer, math is numpy over float64."""
    return emb.apply(
        lambda a: float(np.sqrt(np.sum(np.square(np.asarray(a, dtype="float64")))))
    )


@register(
    "q_udf_pandas",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4)
               AS norm
    FROM embeddings
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF: same semantics (and oracle) as the JVM-side
    q_embed_norm — the differential check proves UDF/JVM parity."""
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.round(l2_norm_arrow(F.col("embedding")), 4).alias("norm")
    )


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group z-score; ddof=1 to match stddev_samp. Single-row groups
    (std undefined) yield NULL, matching the SQL window semantics.

    Returns UNROUNDED doubles: rounding happens Spark-side with F.round
    (Java HALF_UP on BigDecimal = half-away-from-zero, exactly DuckDB's
    round()), because pandas' Series.round is half-EVEN — a z landing on
    a .00005 boundary would hash-mismatch — and per-group rounding work
    in Python is paid ~once per user (~100 k tiny groups)."""
    v = pdf["value"].to_numpy(dtype="float64")
    if v.size < 2:
        z = np.full(v.size, np.nan)
    else:
        std = v.std(ddof=1)
        z = (v - v.mean()) / std if std > 0.0 else np.full(v.size, np.nan)
    # NaN crosses Arrow as double-NaN; the gate (and SQL round) treat it
    # as the NULL the window semantics produce for undefined stddev.
    return pd.DataFrame(
        {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "z": z}
    )


@register(
    "q_udaf_grouped",
    oracle="""
    SELECT user_id, event_id,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4)
               + 0.0 AS z
    FROM events
    WHERE user_id < 500
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF (applyInPandas): per-user z-score of event values
    over a bounded probe cohort (user_id < 500 — several hundred users,
    plenty to exercise the Arrow grouped-map path; this query is the
    DELIBERATE Python surface per SURVEY #73, and its JVM-window twin —
    the oracle — is the production path for the full table).

    One shuffle on a coarse key, pmod(xxhash64(user_id), the session's
    shuffle-partition count): each pandas call takes one coarse group
    and runs `_zscore` per user inside it.  A call per user cost ~2 ms
    of fixed Arrow/pandas overhead each (150 users at sf0.01); a coarse
    key caps the calls at the partition count at any scale.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 500)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = (
        e.select("user_id", "event_id", "value")
        .groupBy(F.pmod(F.xxhash64("user_id"), F.lit(n)))
        .applyInPandas(
            lambda pdf: pd.concat(
                [_zscore(u) for _, u in pdf.groupby("user_id", sort=False)]
            ),
            schema="user_id bigint, event_id bigint, z double",
        )
    )
    # `+ 0.0`: signed-zero normalization on both engines (pandas can
    # emit a z that rounds to -0.0; the driver hasher is signed-strict)
    return raw.withColumn("z", F.round("z", 4) + F.lit(0.0))


@udtf(returnType="doc_id: bigint, pos: bigint, token: string")
class TokenizeUdtf:
    """Python UDTF (Spark 4): one output row per token with its position."""

    def eval(self, doc_id: int, text: str):  # noqa: D102
        if text is None:
            return
        for pos, token in enumerate(text.split(" ")):
            yield doc_id, pos, token


@register(
    "q_udtf_split",
    oracle="""
    SELECT doc_id,
           cast(i - 1 AS BIGINT) AS pos,
           toks[i] AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                 unnest(generate_series(1, len(string_split(text, ' ')))) AS i
          FROM documents WHERE doc_id < 20)
    """,
)
def q_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF lateral apply: tokenize a bounded slice of the corpus into
    (doc_id, pos, token) rows."""
    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 20
    ).createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.token
        FROM documents_udtf d,
             LATERAL tokenize_udtf(d.doc_id, d.text) t
        """
    )


class SplitFixedUdtf:
    """Polymorphic Python UDTF (Spark 4 ``analyze`` API): splits text
    into exactly N columns ``c0..c{N-1}`` where N comes from a LITERAL
    argument at PLAN time — the output schema is computed by
    ``analyze()`` before any data moves, so downstream operators
    resolve columns statically (no schema-on-read guessing, no
    per-row width drift).  The fixed-width contract truncates extra
    tokens and NULL-pads short rows — deterministic shape whatever the
    data does.

    Scale note: schema work happens once on the driver; per-row work
    stays a bounded split.  This is the surface for config-driven
    extraction (delimited exports, fixed-field logs) where the width
    is a pipeline constant, not a data property."""

    @staticmethod
    def analyze(text, n):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import StringType, StructType

        if not n.isConstantExpression or n.value is None:
            raise ValueError("split_fixed_udtf requires a literal width n")
        width = int(n.value)
        if not (1 <= width <= 64):
            raise ValueError("split_fixed_udtf width must be in [1, 64]")
        schema = StructType()
        for i in range(width):
            schema = schema.add(f"c{i}", StringType())
        return AnalyzeResult(schema=schema)

    def eval(self, text, n):  # noqa: D102
        width = int(n)
        toks = (text or "").split(" ")
        yield tuple(toks[:width]) + (None,) * max(0, width - len(toks))
