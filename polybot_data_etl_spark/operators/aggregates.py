"""Aggregation operators (SURVEY.md §2 #20-30).

Reference provenance: SQL-expressed analytics [REC src/etl/.DS_Store:4992];
the concrete agg surface is the SURVEY §2 contract [DES].

Scale posture: every groupBy here is a hash aggregation with map-side
partial aggregation — the shuffle carries one row per (partition, group),
not per input row, so low-cardinality groupings (returnflag × linestatus
= 6 groups) reduce 100 TB to kilobytes before the exchange. The distinct
aggs (#21) add an expand+reshuffle; grouping sets (#22-24) use Spark's
Expand operator (one pass over the input, no re-reads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.registry import register


@register(
    "q_agg_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: multi-measure hash aggregation (the flagship query)."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple count(DISTINCT) aggs (Expand-based two-phase plan)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag) AS INTEGER) AS g_flag,
           cast(grouping(l_linestatus) AS INTEGER) AS g_status,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets with grouping() markers, via the Spark SQL surface."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               cast(grouping(l_returnflag) AS INT) AS g_flag,
               cast(grouping(l_linestatus) AS INT) AS g_status,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup: (flag,status) + (flag) + grand total in one Expand pass."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube: all 4 grouping combinations in one pass."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@register(
    "q_agg_filtered",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
               AS purchase_value
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation (count_if / sum(when))."""
    e = table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    return e.groupBy("user_id").agg(
        F.count_if(is_purchase).alias("n_purchases"),
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.round(F.sum(F.when(is_purchase, F.col("value")).otherwise(0.0)), 2).alias(
            "purchase_value"
        ),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "cov_qty_price"
        ),
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(median(l_quantity), 4) AS med_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + median.

    Exact percentile is a sort-based aggregate; passing all three
    percentages as one array makes Spark collect+sort the column ONCE
    per group instead of keeping three independent value buffers (3x
    the merge traffic and memory). The 100 TB path is
    approx_percentile (t-digest) when groups are huge.
    """
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_linestatus").agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("ps"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )
    return agg.select(
        "l_linestatus",
        F.round(F.col("ps")[0], 4).alias("p25"),
        F.round(F.col("ps")[1], 4).alias("p50"),
        F.round(F.col("ps")[2], 4).alias("p75"),
        "med_qty",
    )


@register(
    "q_agg_minmax_by",
    oracle="""
    SELECT user_id,
           arg_max(event_id, ts) AS last_event_id,
           arg_min(event_id, ts) AS first_event_id,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin: event id at the max/min timestamp per user.

    Deterministic because the fixture has no duplicate (user_id, ts).
    """
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.min_by("event_id", "ts").alias("first_event_id"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation → canonical comma-joined string."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names")
    )


@register("q_agg_approx")  # rows-only: HLL sketches differ across engines
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++).

    No oracle: DuckDB's approx_count_distinct uses a different HLL
    implementation, so values can't hash-match; the driver records a
    rows-only check (SURVEY.md §2 #30). At 100 TB this is the *right*
    distinct-count: fixed memory per group vs the exact Expand plan.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


@register(
    "q_agg_histogram",
    oracle="""
    SELECT event_type, bucket,
           CAST(bucket * 50 AS BIGINT) AS bucket_lo,
           count(*) AS n
    FROM (
        SELECT event_type,
               CAST(least(floor(value / 50), 11) AS BIGINT) AS bucket
        FROM events
    )
    GROUP BY event_type, bucket
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram of event values per type (12
    buckets of width 50, top bucket open) — the distribution profile
    behind dashboards and drift monitors.  Fixed bounds make it a
    single map-side-combined hash agg (one shuffle over a ~60-group
    key space); the data-dependent variant (min/max pre-pass) would
    cost an extra scan, and a t-digest would lose the exact counts.
    floor(value/50) is one IEEE divide + floor, bit-identical across
    engines — no boundary drift."""
    e = table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50), F.lit(11)).cast("long")
    return (
        e.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 50).alias("bucket_lo"),
            "n",
        )
    )


@register(
    "q_agg_mode",
    oracle="""
    SELECT event_type, hour AS peak_hour, n
    FROM (
        SELECT event_type, hour, n,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY n DESC, hour
               ) AS rn
        FROM (
            SELECT event_type,
                   CAST(extract(hour FROM ts) AS BIGINT) AS hour,
                   count(*) AS n
            FROM events
            GROUP BY event_type, extract(hour FROM ts)
        )
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: each event type's peak hour of day (the
    most frequent value, smallest-hour tiebreak).  Engines' built-in
    mode()/any_value tiebreaks are nondeterministic, so the portable
    formulation is count-then-argmax: a hash agg over the (type, hour)
    domain (≤ 5×24 groups after map-side combine) and a row_number
    window over those few rows — the heavy lifting happens in the
    combine, the window sees almost nothing.  Same recipe scales to
    any categorical mode at 100 TB as long as the value domain fits a
    group key."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("hour")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("hour").alias("peak_hour"), "n")
    )


@register(
    "q_agg_corr",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS c,
               sum(l_quantity) AS sx,
               sum(l_extendedprice) AS sy,
               sum(l_quantity * l_extendedprice) AS sxy,
               sum(l_quantity * l_quantity) AS sxx,
               sum(l_extendedprice * l_extendedprice) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           c AS n,
           round((c * sxy - sx * sy)
                 / sqrt((c * sxx - sx * sx) * (c * syy - sy * sy)), 4)
               AS corr_qty_price,
           round((sxy - sx * sy / c) / (c - 1), 2) AS covar_qty_price
    FROM m
    """,
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group bivariate statistics: Pearson correlation and sample
    covariance of quantity vs price for each return flag — the
    profiling agg behind feature-drift dashboards.

    Both engines derive corr/covar from the SAME five raw moments
    (Σx, Σy, Σxy, Σx², Σy²) through identical algebra, instead of
    calling their built-in corr()/covar_samp() whose incremental
    (Welford-style) accumulators differ in float op order — the raw
    moments are plain sums, which agree to the last few ulps, and the
    shared formula keeps the rounded output hash-stable.  Shape: one
    map-side-combined hash agg (six partial sums per group), zero
    joins, ~3 groups total."""
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("c"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias(
            "syy"
        ),
    )
    c, sx, sy = F.col("c"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # try_divide: a singleton group has zero variance / n-1 = 0 and
    # both statistics are undefined — NULL, not an ANSI DIVIDE_BY_ZERO
    # crash (round-6 degenerate-input audit; singleton groups are a
    # real data condition at scale).  Non-degenerate groups divide by
    # a nonzero value, so the output is bit-identical to plain `/`.
    return m.select(
        "l_returnflag",
        c.alias("n"),
        F.round(
            F.try_divide(
                c * sxy - sx * sy,
                F.sqrt((c * sxx - sx * sx) * (c * syy - sy * sy)),
            ),
            4,
        ).alias("corr_qty_price"),
        F.round(F.try_divide(sxy - sx * sy / c, c - 1), 2).alias(
            "covar_qty_price"
        ),
    )


@register(
    "q_agg_gini",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY o_totalprice, o_orderkey
               ) AS i
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_nationkey,
           count(*) AS n_orders,
           round((2.0 * sum(i * o_totalprice) / (count(*) * sum(o_totalprice)))
                 - (count(*) + 1.0) / count(*) + 1e-9, 4) AS gini
    FROM ranked GROUP BY c_nationkey
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order values per customer nation — revenue
    concentration (0 = everyone spends alike, →1 = a few whales carry
    the nation), via the rank formulation G = 2·Σ(i·xᵢ)/(n·Σxᵢ) −
    (n+1)/n over ascending-sorted values (o_orderkey tiebreak keeps the
    rank deterministic; ties in x make the formula tiebreak-invariant
    anyway since equal values swap ranks freely).

    Shape: one nation-partitioned row_number window (the same shuffle
    feeds the final agg) + a map-side-combined moment agg — two sums
    per group.  The +1e-9 nudge guards the double division."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    from pyspark.sql import Window as W

    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", "o_totalprice", "o_orderkey"
    )
    w = W.partitionBy("c_nationkey").orderBy("o_totalprice", "o_orderkey")
    ranked = joined.withColumn("i", F.row_number().over(w))
    n, sx, six = F.count("*"), F.sum("o_totalprice"), F.sum(
        F.col("i") * F.col("o_totalprice")
    )
    return ranked.groupBy("c_nationkey").agg(
        n.alias("n_orders"),
        F.round(
            (F.lit(2.0) * six / (n * sx)) - (n + F.lit(1.0)) / n + F.lit(1e-9),
            4,
        ).alias("gini"),
    )


@register(
    "q_agg_moments",
    oracle="""
    WITH raw AS (
        SELECT l_returnflag,
               count(*) AS n,
               avg(l_quantity) AS m1,
               avg(l_quantity * l_quantity) AS m2r,
               avg(l_quantity * l_quantity * l_quantity) AS m3r,
               avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                 / pow(m2r - m1 * m1, 1.5), 4) + 0.0 AS skewness,
           round((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                  - 3 * m1 * m1 * m1 * m1)
                 / pow(m2r - m1 * m1, 2) - 3, 4) + 0.0 AS kurtosis_excess
    FROM raw
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag from raw
    power sums.

    Built-in `skewness`/`kurtosis` differ across engines (sample vs
    population bias correction), so higher moments are derived from
    E[x^k] partials — each a plain map-side-combinable avg, one
    aggregation pass, portable algebra after.  This is also the form
    that *merges*: per-partition (n, Σx, Σx², Σx³, Σx⁴) vectors
    combine associatively, which is how a 100 TB scan computes exact
    third/fourth moments in one shuffle of 5-number summaries.
    """
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    raw = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.avg(q).alias("m1"),
        F.avg(q * q).alias("m2r"),
        F.avg(q * q * q).alias("m3r"),
        F.avg(q * q * q * q).alias("m4r"),
    )
    m1, m2r, m3r, m4r = (F.col(c) for c in ("m1", "m2r", "m3r", "m4r"))
    var = m2r - m1 * m1
    # try_divide: zero-variance (e.g. singleton) groups have undefined
    # higher moments — NULL, not an ANSI crash (round-6 audit).
    # `+ 0.0` on both engines: a skewness that rounds to -0.0 survives
    # in DuckDB but folds to +0.0 in Spark's unsafe row — the signed-
    # zero class the strict r8 hasher exposed (q_stats_fdr's twin).
    return raw.select(
        "l_returnflag",
        "n",
        (
            F.round(
                F.try_divide(
                    m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1, F.pow(var, 1.5)
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("skewness"),
        (
            F.round(
                F.try_divide(
                    m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                    - 3 * m1 * m1 * m1 * m1,
                    F.pow(var, 2),
                )
                - 3,
                4,
            )
            + F.lit(0.0)
        ).alias("kurtosis_excess"),
    )


@register(
    "q_agg_pareto",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               percent_rank() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS pr
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(CASE WHEN pr <= 0.1 THEN o_totalprice ELSE 0 END)
                 / sum(o_totalprice), 4) AS top10pct_share
    FROM ranked
    GROUP BY o_orderpriority
    """,
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto check): the share of each order
    priority's revenue contributed by its top-10% orders by value.

    percent_rank with a unique-key tiebreak makes the top-decile
    membership deterministic; the share is one conditional sum over
    the ranked frame.  The window is keyed on o_orderpriority (5
    partitions of the orders table); the skew-safe variant at extreme
    scale is the same two-pass bucketed rank used by
    q_win_dist_scaled.
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum(F.when(F.col("pr") <= 0.1, F.col("o_totalprice")).otherwise(0.0))
            / F.sum("o_totalprice"),
            4,
        ).alias("top10pct_share"),
    )


@register(
    "q_agg_winsorized",
    oracle="""
    WITH cuts AS (
        SELECT l_linestatus,
               quantile_cont(l_extendedprice, 0.05) AS p05,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY l_linestatus
    )
    SELECT l.l_linestatus,
           round(avg(l.l_extendedprice), 2) AS mean_raw,
           round(avg(least(greatest(l.l_extendedprice, c.p05), c.p95)), 2)
               AS mean_winsorized,
           round(min(c.p05), 4) AS p05,
           round(min(c.p95), 4) AS p95
    FROM lineitem l JOIN cuts c ON c.l_linestatus = l.l_linestatus
    GROUP BY l.l_linestatus
    """,
)
def q_agg_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: the group mean after clamping values into the
    [p05, p95] band — the robust location estimate reporting pipelines
    use so a single fat-finger order can't move a revenue KPI.

    EXACT percentile cutpoints (DuckDB quantile_cont parity):
    F.percentile ships every value into per-group sort buffers — exact
    order statistics, fine up to ~10⁸ rows per group.  Two passes
    (cutpoints are needed before the clamp); the 3-row cutpoint frame
    broadcasts back onto the fact table and the clamped avg is a
    codegen projection.
    """
    li = table(spark, sf_dir, "lineitem")
    # both cutpoints from ONE percentile buffer per group (the
    # q_agg_percentile lesson: an array of percentages sorts once)
    pcts = F.array(F.lit(0.05), F.lit(0.95))
    ps = F.percentile("l_extendedprice", pcts).alias("ps")
    cuts = li.groupBy("l_linestatus").agg(ps).select(
        "l_linestatus",
        F.col("ps")[0].alias("p05"),
        F.col("ps")[1].alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(F.broadcast(cuts), "l_linestatus")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.avg("l_extendedprice"), 2).alias("mean_raw"),
            F.round(F.avg(clamped), 2).alias("mean_winsorized"),
            F.round(F.min("p05"), 4).alias("p05"),
            F.round(F.min("p95"), 4).alias("p95"),
        )
    )


@register(
    "q_agg_hhi",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_mktsegment, o.o_custkey,
               round(sum(o.o_totalprice), 2) AS t
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_custs,
           round(sum(t * t) / (sum(t) * sum(t)) + 1e-9, 4) AS hhi,
           round(max(t) / sum(t) + 1e-9, 4) AS top_share
    FROM per_cust GROUP BY c_mktsegment
    """,
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per market segment:
    HHI = Σ share_i² over customer spend shares (1/n = perfectly even,
    → 1 = one customer owns the segment), plus the top customer's
    share — the dependence/attrition-risk readout.

    Determinism: per-customer totals round to cents FIRST (both
    engines sum cents-exact doubles ≪ 2⁵³, so the 2-dp round erases
    sum-order ulps); the HHI then uses the algebraic identity
    Σtᵢ²/(Σtᵢ)² — no shares materialize, no broadcast-back join — and
    rounds at 4 dp with the nudge.

    Shape: fact⋈dim equi-join (customer broadcasts), two stacked
    map-side-combined hash aggs — (segment, custkey) then segment —
    the second reusing the first's hash partitioning prefix.  Shuffle
    state is three doubles per group; no windows, no skew (custkey is
    uniform)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("t"))
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_custs"),
        F.round(
            F.sum(F.col("t") * F.col("t"))
            / (F.sum("t") * F.sum("t"))
            + F.lit(1e-9),
            4,
        ).alias("hhi"),
        F.round(F.max("t") / F.sum("t") + F.lit(1e-9), 4).alias("top_share"),
    )


@register(
    "q_agg_stringagg",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_custs,
           array_to_string(list_sort(list_distinct(list(c.c_mktsegment))),
                           ',') AS segments_csv,
           CAST(len(list_distinct(list(c.c_mktsegment))) AS BIGINT)
               AS n_segments
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_agg_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG/STRING_AGG surface): the distinct
    market segments present in each nation as one sorted CSV cell —
    the denormalized label column report tools ask for.

    Determinism: collect_set order is nondeterministic in BOTH engines,
    so the contract is sort-then-join (array_sort before array_join ↔
    list_sort before array_to_string) — never a bare string_agg, whose
    element order is partition-dependent.  Shape: dim⋈dim broadcast
    join, one map-side-combined agg; the collected sets are bounded by
    the segment domain (5), not row count."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    segs = F.array_sort(F.collect_set("c_mktsegment"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_custs"),
            F.array_join(segs, ",").alias("segments_csv"),
            F.size(segs).cast("bigint").alias("n_segments"),
        )
    )


@register(
    "q_agg_bool",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_cust,
           bool_and(c.c_acctbal > 0) AS all_positive,
           bool_or(c.c_acctbal < 0) AS any_negative,
           CAST(count(*) FILTER (WHERE c.c_acctbal > 5000) AS BIGINT)
               AS n_high,
           bool_and(c.c_mktsegment IS NOT NULL) AS segment_complete
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface: BOOL_AND / BOOL_OR / COUNT FILTER
    per nation — the predicate-rollup forms (does EVERY customer have
    a positive balance? does ANY have a negative one?) that back
    assertion-style data checks.

    All three are algebraic single-bit accumulators — map-side
    combined, shuffle carries one partial row per (nation, partition).
    The dim join broadcasts."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(
            F.broadcast(n),
            c["c_nationkey"] == n["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_cust"),
            F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
            F.bool_or(F.col("c_acctbal") < 0).alias("any_negative"),
            F.count_if(F.col("c_acctbal") > 5000)
            .cast("bigint")
            .alias("n_high"),
            F.bool_and(F.col("c_mktsegment").isNotNull()).alias(
                "segment_complete"
            ),
        )
    )


@register(
    "q_agg_means",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pos,
           round(sum(value) / count(*) + 1e-9, 4) AS mean_arith,
           round(exp(sum(ln(value)) / count(*)) + 1e-9, 4) AS mean_geo,
           round(count(*) / sum(1.0 / value) + 1e-9, 4) AS mean_harm
    FROM events WHERE value > 0
    GROUP BY event_type
    """,
)
def q_agg_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pythagorean-means surface per event type: arithmetic, geometric
    (exp of the log-mean — the right average for ratios/growth
    factors), and harmonic (the right average for rates/latencies)
    over positive values.  mean_harm ≤ mean_geo ≤ mean_arith by AM-GM
    — asserted in tests.

    One filtered map-side-combined agg: the three means are all
    algebraic over (n, Σx, Σ ln x, Σ 1/x) partials — one fact pass, a
    k-row result.  Rounds 4-dp +1e-9 (log/reciprocal sums are the
    usual order-sensitive doubles)."""
    e = table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pos"),
        F.round(F.sum("value") / F.count("*") + F.lit(1e-9), 4).alias(
            "mean_arith"
        ),
        F.round(
            F.exp(F.sum(F.log("value")) / F.count("*")) + F.lit(1e-9), 4
        ).alias("mean_geo"),
        F.round(
            F.count("*") / F.sum(F.lit(1.0) / F.col("value")) + F.lit(1e-9),
            4,
        ).alias("mean_harm"),
    )


@register(
    "q_agg_theil",
    oracle="""
    WITH x AS (
        SELECT c_nationkey, o_totalprice AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    g AS (
        SELECT c_nationkey, count(*) AS ng,
               sum(x) AS sg, sum(x * ln(x)) AS slg
        FROM x GROUP BY c_nationkey
    ),
    w AS (
        SELECT g.*, sum(sg) OVER () AS stot, sum(ng) OVER () AS ntot
        FROM g
    ),
    t AS (
        SELECT sum(ng) AS n, sum(sg) AS s, sum(slg) AS sl,
               count(*) AS k,
               sum((slg - ln(sg / ng) * sg) / stot) AS within_,
               sum(sg / stot * ln((sg / ng) / (stot / ntot)))
                   AS between_
        FROM w
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(k AS BIGINT) AS n_nations,
           round((sl - ln(s / n) * s) / s + 1e-9, 4) AS theil_total,
           round(between_ + 1e-9, 4) AS theil_between,
           round(within_ + 1e-9, 4) AS theil_within,
           round(between_ / ((sl - ln(s / n) * s) / s) + 1e-9, 4)
               AS between_share
    FROM t
    """,
)
def q_agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of order values, decomposed across
    customer nations: T = Σ wg·Tg (within) + Σ wg·ln(μg/μ) (between),
    wg = nation revenue share — the question Gini can't answer: how
    much of the revenue concentration is BETWEEN markets vs inside
    them (q_agg_gini gives per-nation levels; Theil's decomposition is
    exactly additive, between + within = total).

    The group identity Tg·wg = (Σg x·ln x − ln μg·Σg x)/S means the
    whole decomposition needs only THREE per-group moments (n, Σx,
    Σx·ln x) — one map-side-combined hash agg over 25 groups, window
    marginals over that 25-row frame, a 1-row reduce.  No sort, no
    per-row second pass (contrast Gini's rank window)."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", F.col("o_totalprice").alias("x")
    )
    g = x.groupBy("c_nationkey").agg(
        F.count("*").alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x") * F.log(F.col("x"))).alias("slg"),
    )
    w = W.partitionBy()
    stot = F.sum("sg").over(w)
    ntot = F.sum("ng").over(w)
    withg = (F.col("slg") - F.log(F.col("sg") / F.col("ng")) * F.col("sg")) / stot
    betwg = (
        F.col("sg")
        / stot
        * F.log((F.col("sg") / F.col("ng")) / (stot / ntot))
    )
    t = g.select(
        "ng", "sg", "slg", withg.alias("wg"), betwg.alias("bg")
    ).agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("slg").alias("sl"),
        F.count("*").alias("k"),
        F.sum("wg").alias("within_"),
        F.sum("bg").alias("between_"),
    )
    n, s, sl = F.col("n"), F.col("s"), F.col("sl")
    total = (sl - F.log(s / n) * s) / s
    return t.select(
        n.cast("bigint").alias("n_orders"),
        F.col("k").cast("bigint").alias("n_nations"),
        F.round(total + F.lit(1e-9), 4).alias("theil_total"),
        F.round(F.col("between_") + F.lit(1e-9), 4).alias("theil_between"),
        F.round(F.col("within_") + F.lit(1e-9), 4).alias("theil_within"),
        F.round(F.col("between_") / total + F.lit(1e-9), 4).alias(
            "between_share"
        ),
    )


@register(
    "q_agg_boxplot",
    oracle="""
    WITH q AS (
        SELECT event_type,
               round(quantile_cont(value, 0.25) + 1e-11, 6) AS q1,
               round(quantile_cont(value, 0.5) + 1e-11, 6) AS med,
               round(quantile_cont(value, 0.75) + 1e-11, 6) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(min(q.q1) + 1e-9, 4) AS q1,
           round(min(q.med) + 1e-9, 4) AS median,
           round(min(q.q3) + 1e-9, 4) AS q3,
           round(min(q.q3) - min(q.q1) + 1e-9, 4) AS iqr,
           round(min(CASE WHEN e.value >= q.q1 - 15e-1 * (q.q3 - q.q1)
                          THEN e.value END) + 1e-9, 4) AS whisker_lo,
           round(max(CASE WHEN e.value <= q.q3 + 15e-1 * (q.q3 - q.q1)
                          THEN e.value END) + 1e-9, 4) AS whisker_hi,
           CAST(sum(CASE WHEN e.value < q.q1 - 15e-1 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 15e-1 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q_agg_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey box-plot summary of `value` per event type: exact
    quartiles, IQR, the 1.5·IQR whiskers (the most extreme DATA points
    inside the fences, per Tukey — not the fences themselves), and the
    fence-outlier count — the robust five-number distribution card
    (q_dq_outliers' 3σ rule breaks on skewed data; IQR fences don't),
    and exactly what a BI layer needs to draw the box.

    Shape: one exact-percentile agg (single-array sort per group, the
    q_agg_percentile construction) → k-row broadcast join back → one
    conditional min/max/count pass.  Quartiles are 6-dp rounded before
    the fence comparisons so both engines cut identical outlier
    sets."""
    e = table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.round(
            F.percentile("value", F.lit(0.25)) + F.lit(1e-11), 6
        ).alias("q1"),
        F.round(
            F.percentile("value", F.lit(0.5)) + F.lit(1e-11), 6
        ).alias("med"),
        F.round(
            F.percentile("value", F.lit(0.75)) + F.lit(1e-11), 6
        ).alias("q3"),
    )
    j = e.join(F.broadcast(q), "event_type")
    iqr = F.col("q3") - F.col("q1")
    lo_fence = F.col("q1") - 1.5 * iqr
    hi_fence = F.col("q3") + 1.5 * iqr
    v = F.col("value")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("q1") + F.lit(1e-9), 4).alias("q1"),
            F.round(F.min("med") + F.lit(1e-9), 4).alias("median"),
            F.round(F.min("q3") + F.lit(1e-9), 4).alias("q3"),
            F.round(F.min(iqr) + F.lit(1e-9), 4).alias("iqr"),
            F.round(
                F.min(F.when(v >= lo_fence, v)) + F.lit(1e-9), 4
            ).alias("whisker_lo"),
            F.round(
                F.max(F.when(v <= hi_fence, v)) + F.lit(1e-9), 4
            ).alias("whisker_hi"),
            F.sum(
                F.when((v < lo_fence) | (v > hi_fence), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


_ABC_BUCKETS = 32


@register(
    "q_agg_abc",
    oracle="""
    WITH pc AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    r AS (
        SELECT l_partkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum,
               sum(cents) OVER () AS total
        FROM pc
    ),
    cls AS (
        SELECT l_partkey, cents,
               CASE WHEN cum <= 8e-1 * total THEN 'A'
                    WHEN cum <= 95e-2 * total THEN 'B'
                    ELSE 'C' END AS abc,
               total
        FROM r
    ),
    agg AS (
        SELECT abc, count(*) AS n_parts, sum(cents) AS c,
               max(total) AS total
        FROM cls GROUP BY abc
    ),
    tot AS (SELECT agg.*, sum(n_parts) OVER () AS all_parts FROM agg)
    SELECT abc AS abc_class, CAST(n_parts AS BIGINT) AS n_parts,
           round(n_parts / CAST(all_parts AS DOUBLE) + 1e-9, 4)
               AS parts_share,
           round(c / 100.0, 2) AS revenue,
           round(c / CAST(total AS DOUBLE) + 1e-9, 4) AS revenue_share
    FROM tot ORDER BY abc_class
    """,
)
def q_agg_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: walk parts in
    descending revenue order and split at 80% / 95% cumulative revenue
    — class A is the vital few the working-capital and forecasting
    effort goes to, C is the long tail to automate; reported as parts
    share vs revenue share per class (the 20/80 shape in one 3-row
    table).  The classification q_agg_pareto's single top-share number
    summarizes.

    Determinism: exact integer cents per part, total order
    (cents DESC, partkey).  Scale: the descending cumulative uses the
    two-pass bucket-offset recipe (quantile-literal cents buckets →
    bucket-local cumsums → ≤1024-row carry prefix, the q_stats_kruskal /
    q_mix_budget construction) — no single task ever sorts the whole
    part dimension; the oracle replays the plain window form."""
    from polybot_data_etl_spark.plans.bounds import add_buckets

    li = table(spark, sf_dir, "lineitem")
    # SQL-text expressions (r13, guide §4): identical operator tree to
    # the Column-method form, ~⅓ the Py4J round-trips per build.
    pc = li.groupBy("l_partkey").agg(
        F.expr(
            "sum(try_cast(round(l_extendedprice * 100) AS BIGINT))"
            " AS cents"
        )
    )
    # pc feeds four consumers (percentile probe, bucketed rows, bucket
    # offsets, grand total): cut the lineage once so the scan+shuffle
    # runs once, not per consumer (SCALE.md §shared-subtree; the
    # sampling job in add_buckets is the materializing action).
    pc = pc.localCheckpoint(eager=False)

    pcb = add_buckets(spark, ("abc_probe", sf_dir), pc, {"bkt": "cents"})
    offsets = (
        pcb.groupBy("bkt")
        .agg(F.expr("sum(cents) AS bc"))
        # offset = revenue mass in buckets ABOVE this one (higher cents)
        .selectExpr(
            "bkt",
            "coalesce(sum(bc) OVER (ORDER BY bkt DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            " AS off",
        )
    )
    total = pc.agg(F.expr("sum(cents) AS total"))
    cum = (
        pcb.withColumn(
            "lcum",
            F.expr(
                "sum(cents) OVER (PARTITION BY bkt"
                " ORDER BY cents DESC, l_partkey ASC"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ),
        )
        .join(F.broadcast(offsets), "bkt")
        .crossJoin(F.broadcast(total))
        .selectExpr("l_partkey", "cents", "off + lcum AS cum", "total")
    )
    agg = (
        cum.selectExpr(
            "CASE WHEN cum <= 0.8D * total THEN 'A'"
            " WHEN cum <= 0.95D * total THEN 'B'"
            " ELSE 'C' END AS abc",
            "cents",
            "total",
        )
        .groupBy("abc")
        .agg(
            F.expr("count(*) AS n_parts"),
            F.expr("sum(cents) AS c"),
            F.expr("max(total) AS total"),
        )
    )
    tot = agg.withColumn(
        "all_parts", F.expr("sum(n_parts) OVER ()")
    )
    return tot.selectExpr(
        "abc AS abc_class",
        "CAST(n_parts AS BIGINT) AS n_parts",
        "round(n_parts / CAST(all_parts AS DOUBLE) + 1e-9, 4)"
        " AS parts_share",
        "round(c / 100.0D, 2) AS revenue",
        "round(c / CAST(total AS DOUBLE) + 1e-9, 4) AS revenue_share",
    ).orderBy("abc_class")


# --- Round-10 registrations (formerly operators/staged_r10.py, the
# [STAGED r10] batch #434-450): moved into their family modules at
# the registration flip (VERDICT r9 §Next-round #2). ---


@register(
    "q_agg_lorenz",
    oracle="""
    WITH cust AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
        FROM orders GROUP BY o_custkey
    ),
    tiled AS (
        SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
        FROM cust
    ),
    dec AS (
        SELECT decile, count(*) AS n_cust, sum(rev) AS drev
        FROM tiled GROUP BY decile
    ),
    tot AS (SELECT sum(drev) AS total FROM dec)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_cust AS BIGINT) AS n_cust,
           round(drev / tot.total + 1e-12, 4) + 0.0 AS share,
           round(sum(drev) OVER (ORDER BY decile) / tot.total + 1e-12, 4)
               + 0.0 AS cum_share
    FROM dec CROSS JOIN tot
    ORDER BY decile
    """,
)
def q_agg_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration at deciles:
    share and cumulative share of total revenue held by each revenue
    decile of customers — the CURVE whose enclosed area q_agg_gini
    reduces to one scalar; the shape is what a data-mix or account-
    concentration review actually reads ('the top decile holds 40%').

    Determinism: per-customer revenue is cents-rounded BEFORE the
    decile ranking and tiled on (rev, custkey) — a total order, so
    ntile boundaries cannot flip on last-ulp float sums.  Scale
    posture: the ntile runs over the per-customer AGGREGATE (the
    entity-keyed bounded class documented for q_agg_rfm, whose
    bucketed twin #425 is the 100 TB recipe); the decile frame is 10
    rows."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    tiled = cust.select(
        "rev",
        F.ntile(10)
        .over(Window.orderBy(F.asc("rev"), F.asc("o_custkey")))
        .alias("decile"),
    )
    dec = tiled.groupBy("decile").agg(
        F.count("*").alias("n_cust"), F.sum("rev").alias("drev")
    )
    tot = dec.agg(F.sum("drev").alias("total"))
    wcum = Window.orderBy("decile")
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_cust").cast("bigint").alias("n_cust"),
            (
                F.round(F.col("drev") / F.col("total") + F.lit(1e-12), 4)
                + F.lit(0.0)
            ).alias("share"),
            (
                F.round(
                    F.sum("drev").over(wcum) / F.col("total") + F.lit(1e-12),
                    4,
                )
                + F.lit(0.0)
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )
