"""Behavioral / product-analytics operators (SURVEY.md §2 #167-170).

Reference provenance: the reference's DAG layer scheduled event-stream
analytics jobs (SURVEY.md §0.1 [REC src/etl/dags]); these four are the
canonical session-behavior reads a product-analytics pipeline runs over
an event lake: state-transition matrices, conversion attribution,
weekly seasonality profiles, and burst (anomaly-rate) detection.

Scale posture shared by all four: the only per-row shuffle is the lag/
running window keyed on ``user_id`` (high-cardinality, skew handled by
AQE) or the hour-bucket aggregation (map-side combinable); every
normalization happens on a post-aggregate frame whose size is bounded
by the *schema* (5x5 transitions, 168 week-cells, hour buckets), not by
the row count, so each query is one fact-table pass at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.plans.bounds import add_buckets
from polybot_data_etl_spark.plans.memo import memo
from polybot_data_etl_spark.registry import register


@register(
    "q_ts_markov",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           round(n / sum(n) OVER (PARTITION BY prev_type), 4) AS p
    FROM t
    """,
)
def q_ts_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event types.

    One lag window per user (ts + event_id tiebreak = deterministic
    sequence), then a count per (prev, next) pair and a row-probability
    normalization.  The normalizing window runs over the 5x5 post-agg
    matrix — size fixed by the event-type vocabulary, so the heavy part
    is exactly one user-keyed shuffle of the fact table.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    w_prev = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_prev), 4).alias("p"),
    )


@register(
    "q_attr_last_touch",
    oracle="""
    WITH touched AS (
        SELECT event_type, value,
               last_value(
                   CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS
               ) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch_type
        FROM events
    )
    SELECT touch_type, count(*) AS n_conversions,
           round(sum(value), 2) AS attributed_value
    FROM touched
    WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    GROUP BY touch_type
    """,
)
def q_attr_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent preceding non-purchase event type.

    ``last(..., ignorenulls)`` over a frame that ends one row before
    the current event is the single-pass formulation — no self-join of
    purchases back onto the event stream, which is the naive shape and
    a second full shuffle.  Credit rollup is a 4-row aggregate.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("touch_type", touch)
        .filter((F.col("event_type") == "purchase") & F.col("touch_type").isNotNull())
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_conversions"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


@register(
    "q_ts_seasonality",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY date_trunc('hour', ts)
    ),
    cells AS (
        SELECT date_diff('day', DATE '1970-01-01', h::DATE) % 7 AS dow_idx,
               extract(hour FROM h) AS hour_of_day,
               round(avg(n), 4) AS avg_events
        FROM hourly GROUP BY 1, 2
    ),
    stats AS (
        SELECT avg(avg_events) AS mu, stddev_samp(avg_events) AS sigma
        FROM cells
    )
    SELECT dow_idx, hour_of_day, avg_events,
           round((avg_events - mu) / sigma, 4) AS z
    FROM cells CROSS JOIN stats
    """,
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: average hourly event volume per
    (day-of-week, hour-of-day) cell, z-scored against the 168-cell week.

    Day-of-week is computed as epoch-days mod 7 (1970-01-01 anchor) —
    integer arithmetic identical on every engine, dodging the
    Spark-1=Sunday vs DuckDB-0=Sunday trap (SURVEY §2.1 #5).  The
    z-score stats come from a 1-row frame broadcast back onto the
    168-cell profile; raw events are touched exactly once.
    """
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
    )
    cells = (
        hourly.groupBy(
            (F.datediff(F.col("h").cast("date"), F.lit("1970-01-01").cast("date")) % 7)
            .alias("dow_idx"),
            F.hour("h").alias("hour_of_day"),
        )
        .agg(F.round(F.avg("n"), 4).alias("avg_events"))
        # Feeds both the 1-row z stats and the final join — pin the
        # 168-row profile so events is scanned once.
        .localCheckpoint(eager=False)
    )
    stats = cells.agg(
        F.avg("avg_events").alias("mu"),
        F.stddev_samp("avg_events").alias("sigma"),
    )
    return cells.join(F.broadcast(stats)).select(
        "dow_idx",
        "hour_of_day",
        "avg_events",
        F.round((F.col("avg_events") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
    )


@register(
    "q_ts_burst",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    scored AS (
        SELECT event_type, h, n,
               avg(n) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
               ) AS baseline,
               count(*) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
               ) AS n_base
        FROM hourly
    )
    SELECT event_type, h, n, round(baseline, 4) AS baseline,
           round(n / baseline, 4) AS burst_ratio
    FROM scored
    WHERE n_base = 24 AND n / baseline >= 1.5
    """,
)
def q_ts_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours where an event type's volume is >= 1.5x
    its trailing-24-observed-hours baseline.

    The trailing window runs over the hourly PRE-AGGREGATE (24 rows per
    frame, one partition per event type), not over raw events — the
    classic rate-anomaly shape whose cost at 100 TB is the one hourly
    rollup.  Frames with fewer than 24 prior observed hours are
    excluded so early-history ratios don't false-positive.
    """
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "h",
        "n",
        F.avg("n").over(w).alias("baseline_raw"),
        F.count("*").over(w).alias("n_base"),
    )
    return (
        scored.filter(
            (F.col("n_base") == 24)
            & (F.col("n") / F.col("baseline_raw") >= 1.5)
        )
        .select(
            "event_type",
            "h",
            "n",
            F.round("baseline_raw", 4).alias("baseline"),
            F.round(F.col("n") / F.col("baseline_raw"), 4).alias("burst_ratio"),
        )
    )


@register(
    "q_agg_rfm",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
               ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
               ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
        FROM per_cust
    )
    SELECT r, f, m, count(*) AS n_customers
    FROM scored GROUP BY r, f, m
    """,
)
def q_agg_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every ordering customer scored into quintiles
    of Recency (latest order first), Frequency, and Monetary value,
    rolled up to segment sizes — the standard CRM / lifecycle cut.

    Registered plan (round-11 flip, VERDICT r10 §Next-round #3; SURVEY
    §2 #425): the three global ntile sorts over the per-customer frame
    are replaced by the two-pass bucketed rank of q_win_dist_scaled —
    the windows run over the per-customer AGGREGATE, an ENTITY-keyed
    frame that grows with data (10⁹ customers at 100 TB), which the
    static global-window plan sweep cannot flag.

    Per dimension: sampled quantile literals bucket the frame by
    VALUE range (all three bounds arrays come from ONE build-time
    pass), a bucket-partitioned window ranks locally under the exact
    registered order (value DESC, custkey ASC), and the global rank
    is local rank + the prefix-summed counts of HIGHER-value buckets
    (a summary window over one row per bucket).  ntile(5) is then the
    closed-form first-(n mod 5)-tiles-get-ceil(n/5) rule on
    (rank, n) — exactly Spark's ntile semantics, so the plan is
    EXACTLY equal to the r1-r10 fixture-scale form, demoted to
    :func:`rfm_global`, not cutpoint-approximate (ties share a value
    bucket; the custkey tiebreak is total).  tests/test_round8.py pins
    the two equal at bucket counts 1-32."""
    o = table(spark, sf_dir, "orders")
    # SQL-text expressions throughout (r13, guide §4): identical
    # operator tree to the Column-method form it replaces (938 Py4J
    # round-trips per build → ~⅓), every literal and coercion kept
    # byte-equivalent.
    per_cust = o.groupBy("o_custkey").agg(
        F.expr("max(o_orderdate) AS last_order"),
        F.expr("count(*) AS frequency"),
        F.expr("round(sum(o_totalprice), 2) AS monetary"),
    ).withColumn(
        # monotonic numeric key for the recency dimension: NTZ →
        # session-tz timestamp → epoch µs (ordering-preserving; only
        # the ORDER matters for ranks, never the absolute value)
        "rv",
        F.expr(
            "CAST(unix_micros(CAST(last_order AS TIMESTAMP)) AS DOUBLE)"
        ),
    )
    # all three dimensions bucketed from ONE sampling job, memoized
    # per (session, sf_dir) — only the first plan build in a session
    # pays it (VERDICT r11 §wrong #4); the bucket count derives from
    # the entity-frame row count (bounds.py).
    dims = (
        ("r", "rv"),
        ("f", "frequency"),
        ("m", "monetary"),
    )
    scored = add_buckets(
        spark,
        ("rfm_probe", sf_dir),
        per_cust,
        {f"bkt_{name}": f"CAST({col} AS DOUBLE)" for name, col in dims},
    )
    # three bucket-partitioned local ranks chained on ONE frame (the
    # registered form's three windows, each now parallel over ~32
    # buckets instead of one task)
    for name, col in dims:
        scored = scored.withColumn(
            f"lrn_{name}",
            F.expr(
                f"row_number() OVER (PARTITION BY bkt_{name}"
                f" ORDER BY {col} DESC, o_custkey ASC)"
            ),
        )
    totals = scored.agg(F.expr("count(*) AS n_total"))
    out = scored
    for name, _ in dims:
        counts = scored.groupBy(f"bkt_{name}").agg(
            F.expr("count(*) AS cnt")
        )
        # rank is DESC in value: offset = rows in HIGHER-value buckets
        offsets = counts.selectExpr(
            f"bkt_{name}",
            f"coalesce(sum(cnt) OVER (ORDER BY bkt_{name} DESC"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            f" AS off_{name}",
        )
        out = out.join(F.broadcast(offsets), f"bkt_{name}")
    out = out.crossJoin(F.broadcast(totals))

    def ntile5_sql(r: str) -> str:
        base = "floor(n_total / 5)"
        rem = "(n_total % 5)"
        big = f"({base} + 1)"
        return (
            f"CAST(CASE WHEN {base} = 0 THEN {r}"
            f" WHEN {r} <= {rem} * {big}"
            f" THEN floor(({r} - 1) / {big}) + 1"
            f" ELSE {rem} + floor(({r} - 1 - {rem} * {big}) / {base}) + 1"
            f" END AS INT)"
        )

    return (
        out.selectExpr(
            ntile5_sql("(off_r + lrn_r)") + " AS r",
            ntile5_sql("(off_f + lrn_f)") + " AS f",
            ntile5_sql("(off_m + lrn_m)") + " AS m",
        )
        .groupBy("r", "f", "m")
        .agg(F.expr("count(*) AS n_customers"))
    )


def rfm_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture-scale form of :func:`q_agg_rfm` — REGISTERED for
    rounds 1-10, demoted to the test-only cross-check at the round-11
    flip (three global ntile sorts over the per-customer aggregate,
    each a one-task sort once customers number in the billions).  The
    custkey tiebreak makes every ntile boundary deterministic."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    w_r = Window.orderBy(F.desc("last_order"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    return (
        per_cust.select(
            F.ntile(5).over(w_r).alias("r"),
            F.ntile(5).over(w_f).alias("f"),
            F.ntile(5).over(w_m).alias("m"),
        )
        .groupBy("r", "f", "m")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q_ts_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    centered AS (
        SELECT event_type, day, n,
               avg(n) OVER (PARTITION BY event_type) AS mu
        FROM daily
    ),
    cusum AS (
        SELECT event_type, day,
               round(sum(n - mu) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 4) AS s
        FROM centered
    ),
    ranked AS (
        SELECT event_type, day, s,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY abs(s) DESC, day
               ) AS rn
        FROM cusum
    )
    SELECT event_type, day AS change_day, s AS cusum_stat
    FROM ranked WHERE rn = 1
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: per event type, the day where the
    cumulative sum of (daily volume − overall mean) peaks in magnitude
    — the classic level-shift locator (a flat series random-walks near
    zero; a mean shift makes |CUSUM| hill-shaped with its peak at the
    shift).

    Three windows, all over the DAILY pre-aggregate (≤31 rows per
    type): mean, running CUSUM, argmax with a day tiebreak.  Raw
    events are touched once, in the map-side-combinable daily rollup.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w_mu = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = daily.select(
        "event_type",
        "day",
        F.round(
            F.sum(F.col("n") - F.avg("n").over(w_mu)).over(w_cum), 4
        ).alias("s"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), F.asc("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("s").alias("cusum_stat"),
        )
    )


@register(
    "q_attr_linear",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value, ts, event_id,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS seg
        FROM events
    ),
    touches AS (
        SELECT user_id, seg, event_type AS touch_type,
               count(*) AS n_type
        FROM seq WHERE event_type <> 'purchase'
        GROUP BY user_id, seg, event_type
    ),
    seg_tot AS (
        SELECT user_id, seg, sum(n_type) AS n_tot
        FROM touches GROUP BY user_id, seg
    ),
    conv AS (
        SELECT user_id, seg, sum(value) AS conv_value
        FROM seq WHERE event_type = 'purchase'
        GROUP BY user_id, seg
    )
    SELECT t.touch_type,
           round(sum(c.conv_value * t.n_type / s.n_tot), 2) AS credit
    FROM touches t
    JOIN seg_tot s ON s.user_id = t.user_id AND s.seg = t.seg
    JOIN conv c ON c.user_id = t.user_id AND c.seg = t.seg
    GROUP BY t.touch_type
    """,
)
def q_attr_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution: each purchase's
    value is split evenly across the touch types the user generated
    since their previous purchase — the multi-touch counterpart of
    q_attr_last_touch.

    Journey segmentation is one exclusive running count of prior
    purchases (seg k = the stretch before the (k+1)-th purchase); the
    credit joins then run on (user, seg) — post-aggregate frames, two
    orders smaller than the event stream.  All three frames derive
    from ONE windowed pass over events; the fact table is never
    re-joined against itself row-to-row.
    """
    e = table(spark, sf_dir, "events")
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "value",
        F.count(
            F.when(F.col("event_type") == "purchase", F.lit(1))
        )
        .over(w_seg)
        .alias("seg"),
    ).localCheckpoint(eager=False)
    touches = (
        seq.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "seg", F.col("event_type").alias("touch_type"))
        .agg(F.count("*").alias("n_type"))
    )
    seg_tot = touches.groupBy("user_id", "seg").agg(
        F.sum("n_type").alias("n_tot")
    )
    conv = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "seg")
        .agg(F.sum("value").alias("conv_value"))
    )
    return (
        touches.join(seg_tot, ["user_id", "seg"])
        .join(conv, ["user_id", "seg"])
        .groupBy("touch_type")
        .agg(
            F.round(
                F.sum(
                    F.col("conv_value") * F.col("n_type") / F.col("n_tot")
                ),
                2,
            ).alias("credit")
        )
    )


@register(
    "q_ts_growth",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    seq AS (
        SELECT user_id, d,
               lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
               lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
        FROM days
    ),
    maxd AS (SELECT max(d) AS dmax FROM days),
    states AS (
        SELECT d,
               CASE WHEN prev_d IS NULL THEN 'new'
                    WHEN prev_d = d - INTERVAL 1 DAY THEN 'retained'
                    ELSE 'resurrected' END AS state
        FROM seq
        UNION ALL
        SELECT d + INTERVAL 1 DAY AS d, 'churned' AS state
        FROM seq CROSS JOIN maxd
        WHERE (next_d IS NULL OR next_d > d + INTERVAL 1 DAY)
          AND d + INTERVAL 1 DAY <= dmax
    )
    SELECT d, state, count(*) AS n_users
    FROM states GROUP BY d, state
    """,
)
def q_ts_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active user-day classified as new /
    retained / resurrected, plus a churned row on the day after an
    activity streak ends — the standard DAU decomposition
    (new + retained + resurrected − churned telescopes into ΔDAU).

    One distinct on (user, day) — map-side combined — then a single
    user-keyed lag/lead window pass emits both the activity state and
    the churn event; no day-by-day self-join of the activity matrix.
    Churn attribution stops at the observation horizon (a user silent
    on the final day is not yet churned).  Everything downstream of
    the distinct is bounded by active user-days.
    """
    e = table(spark, sf_dir, "events")
    days = (
        e.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
        # Feeds both the lag/lead pass and the horizon max — pin the
        # active-user-day frame so events is scanned once.
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("user_id").orderBy("d")
    seq = days.select(
        "user_id",
        "d",
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
    ).localCheckpoint(eager=False)
    one_day = F.expr("INTERVAL 1 DAY")
    states = seq.select(
        "d",
        F.when(F.col("prev_d").isNull(), F.lit("new"))
        .when(F.col("prev_d") == F.col("d") - one_day, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    maxd = days.agg(F.max("d").alias("dmax"))
    churned = (
        seq.crossJoin(F.broadcast(maxd))
        .filter(
            (
                F.col("next_d").isNull()
                | (F.col("next_d") > F.col("d") + one_day)
            )
            & (F.col("d") + one_day <= F.col("dmax"))
        )
        .select(
            (F.col("d") + one_day).alias("d"), F.lit("churned").alias("state")
        )
    )
    return (
        states.unionAll(churned)
        .groupBy("d", "state")
        .agg(F.count("*").alias("n_users"))
    )


_PATH_K = 10


@register(
    "q_ts_paths",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, date_trunc('day', ts) AS day, event_type,
               row_number() OVER (
                   PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id, day,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id, day
    )
    SELECT path, cast(count(*) AS BIGINT) AS n
    FROM paths
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT {_PATH_K}
    """,
)
def q_ts_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top day-opening event paths: each (user, day)'s first three
    events concatenated in time order, ranked by frequency — the path
    analysis view behind onboarding/funnel design (q_ts_markov gives
    the 1-step transition matrix; this gives the most-travelled
    3-step prefixes).

    Shape: ONE window keyed on the high-cardinality (user, day) pair
    picks each day's first three rows (ties broken by event_id, same
    order both engines), a per-(user, day) ordered string-agg builds
    the path, a map-side-combined count ranks it, and the top-10 head
    is TakeOrdered — no global sort, no joins."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    day = F.date_trunc("day", "ts")
    ranked = e.select(
        "user_id",
        day.alias("day"),
        "event_type",
        F.row_number().over(
            Window.partitionBy("user_id", day).orderBy("ts", "event_id")
        ).alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(_PATH_K)
    )


@register(
    "q_ts_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               count(*) AS x
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT a.event_type,
               sum(CASE WHEN b.x > a.x THEN 1
                        WHEN b.x < a.x THEN -1 ELSE 0 END) AS s_stat
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.d > a.d
        GROUP BY a.event_type
    ),
    nn AS (
        SELECT event_type, count(*) AS n FROM daily GROUP BY event_type
    ),
    ties AS (
        SELECT event_type,
               sum(t * (t - 1) * (2 * t + 5)) AS tie_corr
        FROM (SELECT event_type, x, count(*) AS t
              FROM daily GROUP BY event_type, x)
        GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(nn.n AS BIGINT) AS n_days,
           CAST(s.s_stat AS BIGINT) AS s_stat,
           round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                  WHEN s.s_stat < 0 THEN -1
                                  ELSE 0 END)
                 / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                         - ties.tie_corr) / 18.0)
                 + 1e-9, 4) AS z,
           CASE WHEN s.s_stat > 0 THEN 'up'
                WHEN s.s_stat < 0 THEN 'down' ELSE 'flat' END AS trend
    FROM s
    JOIN nn ON nn.event_type = s.event_type
    JOIN ties ON ties.event_type = s.event_type
    """,
)
def q_ts_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type: is daily volume
    monotonically rising or falling? — the nonparametric trend detector
    (no linearity or normality assumed; robust to spikes) behind
    "is this metric actually growing" alerts.  S = Σ_{i<j}
    sign(x_j − x_i) over day-ordered daily counts, tie-corrected
    variance, continuity-corrected z.

    Scale shape — aggregate-then-quadratic: the fact table collapses
    FIRST to the (type, day) frame (one map-side-combined agg; ≤365
    rows/type/year regardless of corpus size), and the O(days²)
    pair stage runs on that bounded frame — the same
    bounded-self-join conduct as q_graph_triangles' oracle.  All
    statistics are integer sums; only the final z divides."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").alias("x"))
    b = daily.select(
        F.col("event_type").alias("bt"),
        F.col("d").alias("bd"),
        F.col("x").alias("bx"),
    )
    s = (
        daily.join(
            b,
            (F.col("bt") == F.col("event_type")) & (F.col("bd") > F.col("d")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("bx") > F.col("x"), 1)
                .when(F.col("bx") < F.col("x"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count("*").alias("n"))
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_corr")
        )
    )
    j = s.join(nn, "event_type").join(ties, "event_type")
    n, ss = F.col("n"), F.col("s_stat")
    cc = F.when(ss > 0, 1).when(ss < 0, -1).otherwise(0)
    var = (n * (n - 1) * (2 * n + 5) - F.col("tie_corr")) / 18.0
    return j.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        ss.cast("bigint").alias("s_stat"),
        F.round((ss - cc) / F.sqrt(var) + F.lit(1e-9), 4).alias("z"),
        F.when(ss > 0, "up")
        .when(ss < 0, "down")
        .otherwise("flat")
        .alias("trend"),
    )


@register(
    "q_attr_position",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, value, ts, event_id,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS seg
        FROM events
    ),
    touches AS (
        SELECT user_id, seg, event_type AS touch_type,
               row_number() OVER (PARTITION BY user_id, seg
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, seg) AS n_tot
        FROM seq WHERE event_type <> 'purchase'
    ),
    conv AS (
        SELECT user_id, seg, sum(value) AS conv_value
        FROM seq WHERE event_type = 'purchase'
        GROUP BY user_id, seg
    ),
    weighted AS (
        SELECT t.touch_type,
               c.conv_value *
               CASE WHEN t.n_tot = 1 THEN 1.0
                    WHEN t.n_tot = 2 THEN 0.5
                    WHEN t.rn = 1 THEN 0.4
                    WHEN t.rn = t.n_tot THEN 0.4
                    ELSE 0.2 / (t.n_tot - 2) END AS credit
        FROM touches t
        JOIN conv c ON c.user_id = t.user_id AND c.seg = t.seg
    )
    SELECT touch_type, round(sum(credit) + 1e-9, 2) AS credit
    FROM weighted GROUP BY touch_type
    """,
)
def q_attr_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: 40% of each
    purchase's value to the FIRST touch of the journey segment, 40% to
    the LAST, the remaining 20% split across the middle touches
    (1-touch segments get 100%, 2-touch 50/50) — the third standard
    attribution model beside q_attr_last_touch and q_attr_linear.

    Shape: the same single windowed segmentation pass as
    q_attr_linear; positions come from row_number + count windows
    sharing ONE (user, seg) exchange; credit joins run on the
    post-aggregate (user, seg) frames.  The fact table is never
    self-joined row-to-row and every window key is high-cardinality.
    Weights are the same double literals on both engines; the 2-dp
    money round carries the +1e-9 half-tie nudge."""
    e = table(spark, sf_dir, "events")
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "value",
        "ts",
        "event_id",
        F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
        .over(w_seg)
        .alias("seg"),
    ).localCheckpoint(eager=False)
    w_rn = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id", "seg")
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "seg",
        F.col("event_type").alias("touch_type"),
        F.row_number().over(w_rn).alias("rn"),
        F.count("*").over(w_n).alias("n_tot"),
    )
    conv = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "seg")
        .agg(F.sum("value").alias("conv_value"))
    )
    weight = (
        F.when(F.col("n_tot") == 1, F.lit(1.0))
        .when(F.col("n_tot") == 2, F.lit(0.5))
        .when(F.col("rn") == 1, F.lit(0.4))
        .when(F.col("rn") == F.col("n_tot"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n_tot") - 2))
    )
    return (
        touches.join(conv, ["user_id", "seg"])
        .groupBy("touch_type")
        .agg(
            F.round(
                F.sum(F.col("conv_value") * weight) + F.lit(1e-9), 2
            ).alias("credit")
        )
    )



# Per-task pair-expansion bound for q_basket_lift (r13, guide §2.5):
# a basket of k parts fans out C(k,2) pairs inside ONE Generate task;
# baskets beyond this size take the tiled route (<= CHUNK^2 pairs per
# task, tiles spread by one hash exchange).  Fixture max basket is 17,
# so the driver-visible plan stays tile-free; the probe is memoized
# per (session, sf_dir).
_BASKET_CHUNK = 512


def basket_pair_candidates(baskets, max_basket: int):
    """(part_a, part_b) candidate stream over (o, parts) baskets, parts
    SORTED and DISTINCT per basket; every unordered pair emitted exactly
    once with part_a < part_b.

    Bounded baskets (size <= ``chunk`` = ``_BASKET_CHUNK``, read at
    call time) expand exchange-free via
    posexplode + slice.  Oversized baskets split into (chunk_i, chunk_j)
    tiles spread by one hash exchange, so no task expands more than
    chunk^2 pairs (guide §2.5) — diagonal tiles use the in-chunk sorted
    slice, off-diagonal tiles the full ca×cb product (sorted + distinct
    arrays make every cross pair a < b exactly once).  Output multiset
    is identical on both routes — pinned in tests/test_round13.py."""
    chunk = _BASKET_CHUNK
    small = (
        baskets
        if max_basket <= chunk
        else baskets.filter(f"size(parts) <= {chunk}")
    )
    pair_src = small.selectExpr(
        "posexplode(parts) AS (i, part_a)", "parts"
    ).selectExpr(
        "part_a", f"explode(slice(parts, i + 2, {1 << 30})) AS part_b"
    )
    if max_basket > chunk:
        nch = f"CAST(ceil(size(parts) / {chunk}.0D) AS INT)"
        tiles = (
            baskets.filter(f"size(parts) > {chunk}")
            .selectExpr(
                "o", "parts", f"explode(sequence(0, {nch} - 1)) AS ci"
            )
            .selectExpr(
                "o", "parts", "ci",
                f"explode(sequence(ci, {nch} - 1)) AS cj",
            )
            .selectExpr(
                "o", "ci", "cj",
                f"slice(parts, ci * {chunk} + 1, {chunk}) AS ca",
                f"slice(parts, cj * {chunk} + 1, {chunk}) AS cb",
            )
            .repartition("o", "ci", "cj")
        )
        diag = tiles.filter("ci = cj").selectExpr(
            "posexplode(ca) AS (i, part_a)", "ca"
        ).selectExpr(
            "part_a", f"explode(slice(ca, i + 2, {1 << 30})) AS part_b"
        )
        cross = tiles.filter("ci < cj").selectExpr(
            "explode(ca) AS part_a", "cb"
        ).selectExpr("part_a", "explode(cb) AS part_b")
        pair_src = pair_src.unionByName(diag).unionByName(cross)
    return pair_src


@register(
    "q_basket_lift",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT count(DISTINCT o) AS n_orders FROM li),
    item AS (SELECT p, count(*) AS cnt FROM li GROUP BY p),
    pairs AS (
        SELECT a.p AS part_a, b.p AS part_b, count(*) AS pair_orders
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    )
    SELECT cast(part_a AS BIGINT) AS part_a,
           cast(part_b AS BIGINT) AS part_b,
           cast(pair_orders AS BIGINT) AS pair_orders,
           cast(ia.cnt AS BIGINT) AS orders_a,
           cast(ib.cnt AS BIGINT) AS orders_b,
           round(pair_orders * n.n_orders
                 / (ia.cnt * ib.cnt)::DOUBLE + 1e-9, 4) AS lift
    FROM pairs
    JOIN item ia ON ia.p = part_a
    JOIN item ib ON ib.p = part_b
    CROSS JOIN n
    ORDER BY pair_orders DESC, part_a, part_b LIMIT 15
    """,
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top co-purchased part pairs by
    support, with lift = P(a,b) / (P(a)·P(b)) over order baskets — the
    association-rule read (Apriori's scoring step) a recommender or
    assortment pipeline runs on an order lake.

    Shape: pair candidates come from basket-bounded explode² over the
    collected per-order part set (the q_graph_link_predict round-6
    posture) — ONE hash-agg shuffle on the basket key instead of a
    two-sided self-join exchange; fan-out per order is C(basket,2),
    bounded by the schema's max basket size (13 here, ~7-line orders
    in TPC-H), never by table size, so pair volume stays
    O(orders · basket²).  The per-item support
    table joins back UN-hinted (VERDICT r5 #6): it is bounded by
    |parts|, which at 100 TB is NOT broadcast-safe — AQE picks the
    strategy from the measured size (broadcast at fixture scale, a
    plain partkey-hash shuffle join at part-catalog scale; see
    SCALE.md "Basket lift").  Only the 1-row order total keeps an
    explicit broadcast.  The a<b canonicalization halves the pair
    space and makes the pair key deterministic.  Top-15 is (support
    DESC, part_a, part_b) — a total order → TakeOrderedAndProject, no
    global sort.  At 100 TB the only large shuffle is the
    orderkey-hash join, AQE-splittable on skewed mega-baskets."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # r13 restructure (guide §2.4 + §2.5), results bit-identical:
    # - the old separate `.distinct()` exchange is gone — collect_set
    #   already dedupes per order, item counts come from exploding the
    #   set, and n_orders is the basket row count (one full shuffle +
    #   one stage barrier removed from the critical chain);
    # - the basket array is SORTED, so pair generation is
    #   posexplode + slice (each unordered pair generated exactly
    #   once) instead of explode² + a<b filter (half the Generate
    #   volume);
    # - mega-basket skew (§2.5): C(k,2) pair expansion for one basket
    #   is pinned to ONE task by the Generate chain.  A memoized probe
    #   samples the max basket size; when it exceeds _BASKET_CHUNK the
    #   oversized baskets take a tiled route — (chunk_i, chunk_j)
    #   tiles of ≤_BASKET_CHUNK elements, spread by one hash exchange,
    #   each tile expanding ≤ CHUNK² pairs — while bounded baskets
    #   keep the exchange-free path.  Fixture-scale plans (max basket
    #   17) are tile-free, so the driver bench shape is unchanged.
    baskets = li.groupBy("o").agg(
        F.expr("sort_array(collect_set(p)) AS parts")
    )
    baskets = baskets.localCheckpoint(eager=False)
    max_basket = memo(
        spark,
        ("basket_max", sf_dir),
        lambda: int(
            li.groupBy("o")
            .agg(F.expr("count(DISTINCT p) AS k"))
            .agg(F.max("k"))
            .first()[0]
            or 0
        ),
    )
    pairs = basket_pair_candidates(baskets, max_basket).groupBy(
        "part_a", "part_b"
    ).agg(F.expr("count(*) AS pair_orders"))
    item = (
        baskets.selectExpr("explode(parts) AS p")
        .groupBy("p")
        .agg(F.expr("count(*) AS cnt"))
    )
    n = baskets.agg(F.expr("count(*) AS n_orders"))
    return (
        pairs.join(item.selectExpr("p AS part_a", "cnt AS ca"), "part_a")
        .join(item.selectExpr("p AS part_b", "cnt AS cb"), "part_b")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "CAST(part_a AS BIGINT) AS part_a",
            "CAST(part_b AS BIGINT) AS part_b",
            "CAST(pair_orders AS BIGINT) AS pair_orders",
            "CAST(ca AS BIGINT) AS orders_a",
            "CAST(cb AS BIGINT) AS orders_b",
            "round(pair_orders * n_orders / (ca * cb) + 1e-9, 4) AS lift",
        )
        .orderBy(F.desc("pair_orders"), "part_a", "part_b")
        .limit(15)
    )
