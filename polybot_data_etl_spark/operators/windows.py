"""Window-function operators (SURVEY.md §2 #31-38).

Reference provenance: SQL analytics surface [REC src/etl/.DS_Store:4992];
concrete window set per SURVEY §2 [DES].

Scale posture: a window = one shuffle on partitionBy keys + per-partition
sort. All windows here partition by a high-cardinality key (custkey /
user_id) so no single partition exceeds executor memory; the one global
window (#37, all-customer ntile) is flagged — at 100 TB that becomes a
range-partitioned two-pass rank, or an approx-quantile bucketing.
Every ordering carries a unique-key tiebreak (SURVEY §2.1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.plans.bounds import add_buckets
from polybot_data_etl_spark.registry import register


@register(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk
    FROM orders
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number (unique ordering) + rank/dense_rank (tied ordering)."""
    o = table(spark, sf_dir, "orders")
    w_unique = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_tied = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_orderkey",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_tied).alias("rnk"),
        F.dense_rank().over(w_tied).alias("drnk"),
    )


@register(
    "q_win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def q_win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (rank-filter pattern; Spark pushes the
    rank limit into the sort via WindowGroupLimit)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q_win_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS running_total
    FROM events
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per user."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_total"),
    )


@register(
    "q_win_moving",
    oracle="""
    SELECT event_id, user_id,
           floor(sum(cast(round(value * 100) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                 * 1.0
                 / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                 + 0.5) / 100.0 AS moving_avg
    FROM events
    """,
)
def q_win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over the last 4 rows per user, exact to the cent.

    A short-frame avg of 2-decimal values lands exactly on round-half
    boundaries, where Spark's HALF_UP decimal rounding and DuckDB's
    double rounding disagree. So the rounding is done in exact integer
    arithmetic: sum the values as cents (exact), divide by the frame
    count (n ∈ {1..4}: exact for 1/2/4, tie-free for 3), half-up via
    floor(x + 0.5) — bit-identical in any engine.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).try_cast("bigint")
    avg_cents = F.floor(
        F.sum(cents).over(w) * F.lit(1.0) / F.count("*").over(w) + F.lit(0.5)
    )
    return e.select(
        "event_id",
        "user_id",
        (avg_cents / F.lit(100.0)).alias("moving_avg"),
    )


@register(
    "q_win_range_frame",
    oracle="""
    SELECT o_orderkey,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_similar
    FROM orders
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: each customer's orders within $10k below each
    order's price.

    RANGE frames are value-based, so tied order keys don't matter.
    Partitioned by o_custkey (high-cardinality) so the window sort
    spreads across executors — a low-cardinality partition key (e.g. the
    3-value o_orderstatus) would funnel the whole table into 3 tasks at
    any scale.
    """
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return o.select("o_orderkey", F.count("*").over(w).alias("n_similar"))


@register(
    "q_win_lead_lag",
    oracle="""
    SELECT event_id, user_id,
           round(lag(value, 1, 0.0) OVER w, 2) AS prev_value,
           round(lead(value, 1, 0.0) OVER w, 2) AS next_value,
           coalesce(lag(event_type, 1) OVER w, 'none') AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with defaults per user in event-time order."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.lag("value", 1, 0.0).over(w), 2).alias("prev_value"),
        F.round(F.lead("value", 1, 0.0).over(w), 2).alias("next_value"),
        F.coalesce(F.lag("event_type", 1).over(w), F.lit("none")).alias("prev_type"),
    )


@register(
    "q_win_dist",
    oracle="""
    SELECT c_custkey,
           cast(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def q_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions (ntile / percent_rank / cume_dist) over
    a global ordering of the customer dimension.

    Registered plan (round-11 flip, VERDICT r10 §Next-round #1): the
    two-pass range-bucketed rank of :func:`q_win_dist_scaled` — the
    two registered names deliberately share the scale plan because the
    contract (same oracle) is identical; a single unpartitioned window
    would be a one-task global sort at 100 TB."""
    return q_win_dist_scaled(spark, sf_dir)


@register(
    "q_win_dist_scaled",
    oracle="""
    SELECT c_custkey,
           cast(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def q_win_dist_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of q_win_dist: identical output (same oracle), no
    global single-partition sort.

    Two-pass range-bucketed rank:
      1. An approx-quantile aggregate fixes ORDERED value boundaries
         (P−1 cut points at i/P quantiles), collected to the driver as
         LITERALS — the same tiny boundary-collect repartitionByRange
         does internally.  Literal boundaries make the bucket a pure
         deterministic function of the row (no risk of two plan
         branches recomputing a sketch differently), and quantile cuts
         — unlike the min/max-width buckets this used before — can't be
         starved by value skew: every bucket holds ≈ n/P rows no matter
         the distribution.  A window partitioned by bkt computes
         bucket-LOCAL row numbers in parallel (each task sorts only its
         own value range).
      2. Per-bucket row counts (≤ P rows) get prefix-summed into global
         offsets — the only global window runs over that tiny bucket
         summary, never the data.
    Global row number = offset + local row number; because the ordering
    key (c_acctbal, c_custkey) is unique, ntile/percent_rank/cume_dist
    are all closed-form in (rn, n): ntile by the standard first-(n mod k)
    -tiles-get-ceil(n/k) rule, pct_rank = (rn-1)/(n-1), cume = rn/n.
    """
    c = table(spark, sf_dir, "customer")
    # Driver-side cut-point literals KEPT (round-8 A/B, same verdict
    # as q_win_weighted_median_scaled): the bounds input here is a RAW
    # scan, so the in-plan broadcast-bounds form re-runs
    # scan+percentile under every consumer, while the one synchronous
    # build-time pass is the RangePartitioner-sampling precedent and
    # is hidden by bench's producer pipelining.  In-plan bounds win
    # only over pre-aggregated frames (mannwhitney/kruskal).
    bucketed = add_buckets(
        spark, ("win_dist_probe", sf_dir), c, {"bkt": "c_acctbal"}
    )
    w_local = Window.partitionBy("bkt").orderBy("c_acctbal", "c_custkey")
    local = bucketed.withColumn("lrn", F.row_number().over(w_local))
    counts = bucketed.groupBy("bkt").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("bkt", "offset")
    totals = counts.agg(F.sum("cnt").alias("n_total"))
    rn = (F.col("offset") + F.col("lrn")).alias("rn")
    ranked = (
        local.join(F.broadcast(offsets), "bkt")
        .crossJoin(F.broadcast(totals))
        .select("c_custkey", rn, "n_total")
    )
    n, r = F.col("n_total"), F.col("rn")
    base = F.floor(n / 4)
    rem = n % 4
    big = base + 1
    quartile = (
        F.when(base == 0, r)
        .when(r <= rem * big, F.floor((r - 1) / big) + 1)
        .otherwise(rem + F.floor((r - 1 - rem * big) / base) + 1)
        .cast("int")
    )
    pct = F.when(n == 1, F.lit(0.0)).otherwise(F.round((r - 1) / (n - 1), 4))
    return ranked.select(
        "c_custkey",
        quartile.alias("quartile"),
        pct.alias("pct_rank"),
        F.round(r / n, 4).alias("cume"),
    )


@register(
    "q_win_firstlast",
    oracle="""
    SELECT event_id, user_id,
           first_value(event_id) OVER w AS first_ev,
           last_value(event_id) OVER w AS last_ev,
           nth_value(event_id, 2) OVER w AS second_ev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value with an explicit full-partition frame
    (the default frame would make last_value = current row)."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        F.first("event_id").over(w).alias("first_ev"),
        F.last("event_id").over(w).alias("last_ev"),
        F.nth_value("event_id", 2).over(w).alias("second_ev"),
    )


@register(
    "q_win_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events) e
    ),
    anch AS (
        SELECT user_id,
               epoch_us(d) // 86400000000
               - row_number() OVER (PARTITION BY user_id ORDER BY d)
                   AS anchor
        FROM days
    )
    SELECT user_id, max(len) AS longest_streak
    FROM (
        SELECT user_id, anchor, count(*) AS len
        FROM anch GROUP BY user_id, anchor
    )
    GROUP BY user_id
    """,
)
def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands rewrite: distinct active days, then (epoch-day −
    row_number) is constant exactly within a consecutive run, so one
    grouped count per (user, anchor) and a max gives the streak.  All
    integer arithmetic (epoch µs floor-divided to days) — float-free
    gate.

    Shape: a distinct on (user, day) — map-side combined — then one
    user-partitioned window and two tiny aggs; everything after the
    distinct is bounded by active-days, not events."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    epoch_day = F.expr("unix_micros(cast(d as timestamp)) div 86400000000")
    w = W.partitionBy("user_id").orderBy("d")
    anch = days.select(
        "user_id", (epoch_day - F.row_number().over(w)).alias("anchor")
    )
    return (
        anch.groupBy("user_id", "anchor")
        .agg(F.count("*").alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("longest_streak"))
    )


@register(
    "q_win_weighted_median",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_quantity, l_extendedprice,
               sum(l_extendedprice) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_quantity, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_w,
               sum(l_extendedprice) OVER (
                   PARTITION BY l_returnflag
               ) AS tot_w
        FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_quantity), 2) AS weighted_median_qty,
           round(min(tot_w), 2) AS total_weight
    FROM ranked
    WHERE cum_w >= tot_w / 2
    GROUP BY l_returnflag
    """,
)
def q_win_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the quantity at which half the extended-price
    mass per return flag is reached (the 'value-weighted typical order
    size' — plain median treats a $10 and a $10,000 line the same).

    Classic cumulative-weight formulation: sort each group by value
    (unique-key tiebreak → deterministic cum-sums under ties), running
    weight sum, pick the first value whose cumulative weight crosses
    half the total.  Both windows share one (flag, qty, key) sort; the
    crossing pick is a min-aggregate, not a second pass.  At 100 TB the
    per-group sort is the cost — same shuffle as any percentile — and
    for skewed groups the same two-pass bucketed rewrite as
    q_win_dist_scaled applies (bucket-local cum-sums + 32-row bucket
    summary), since cumulative weight is associative across buckets.
    """
    li = table(spark, sf_dir, "lineitem")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.sum("l_extendedprice").over(w_cum).alias("cum_w"),
        F.sum("l_extendedprice").over(w_tot).alias("tot_w"),
    )
    return (
        ranked.filter(F.col("cum_w") >= F.col("tot_w") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_quantity"), 2).alias("weighted_median_qty"),
            F.round(F.min("tot_w"), 2).alias("total_weight"),
        )
    )


@register(
    "q_win_weighted_median_scaled",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_quantity, l_extendedprice,
               sum(l_extendedprice) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_quantity, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_w,
               sum(l_extendedprice) OVER (
                   PARTITION BY l_returnflag
               ) AS tot_w
        FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_quantity), 2) AS weighted_median_qty,
           round(min(tot_w), 2) AS total_weight
    FROM ranked
    WHERE cum_w >= tot_w / 2
    GROUP BY l_returnflag
    """,
)
def q_win_weighted_median_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of q_win_weighted_median: identical output (same
    oracle — the q_win_dist/q_win_dist_scaled pattern), but no
    single-task per-flag sort of the whole fact table.

    Two-pass bucket-offset rewrite (the q_win_dist_scaled shape applied
    to cumulative WEIGHT instead of row number — valid because a cum-sum
    is associative across value buckets):
      1. One approx-quantile agg fixes ≤31 ORDERED l_quantity cut
         points as driver literals → every row gets a deterministic
         bucket; the cum-weight window partitions by (flag, bkt), so
         each task sorts only its own value slice (3×32 ≈ 96-way
         parallel instead of 3 single-task sorts).
      2. Per-(flag, bkt) weight subtotals (≤96 rows) get prefix-summed
         into bucket offsets — the only flag-partitioned unpartitioned-
         by-bucket window runs over that tiny summary, never the data —
         and the 3-row flag totals broadcast back on the equi key.
    Global cum weight = offset + bucket-local cum.  Weights are exact
    integer CENTS (per-row round(price*100), the order-sensitive-sum
    convention): bucket subtotals then add associatively with no float
    reordering risk, and the crossing test `2·cum ≥ tot` is integer-
    exact.  total_weight re-renders as cents/100."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_quantity",
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100)
        .try_cast("bigint")
        .alias("w_cents"),
    )
    # Driver-side cut-point literals KEPT here (round-8 measured A/B):
    # the in-plan broadcast-bounds variant duplicates the full
    # LINEITEM scan under every bounds consumer (warm total 2.67 s vs
    # 2.20 s literal at sf0.1 — broadcast-exchange reuse does not
    # collapse all copies), while the .first()'s build-time pass is
    # hidden by bench's producer pipelining.  The in-plan form wins
    # only when the percentile runs on an already-aggregated small
    # frame (q_stats_mannwhitney / q_stats_kruskal — converted).
    bucketed = add_buckets(
        spark, ("wmedian_probe", sf_dir), base, {"bkt": "l_quantity"}
    )
    w_local = (
        Window.partitionBy("l_returnflag", "bkt")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.withColumn("cum_local", F.sum("w_cents").over(w_local))
    summary = bucketed.groupBy("l_returnflag", "bkt").agg(
        F.sum("w_cents").alias("bw")
    )
    w_off = (
        Window.partitionBy("l_returnflag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = summary.select(
        "l_returnflag",
        "bkt",
        F.coalesce(F.sum("bw").over(w_off), F.lit(0)).alias("offset"),
    )
    totals = summary.groupBy("l_returnflag").agg(
        F.sum("bw").alias("tot_cents")
    )
    cum = F.col("offset") + F.col("cum_local")
    return (
        local.join(F.broadcast(offsets), ["l_returnflag", "bkt"])
        .join(F.broadcast(totals), "l_returnflag")
        .filter(cum * 2 >= F.col("tot_cents"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_quantity"), 2).alias("weighted_median_qty"),
            F.round(F.min("tot_cents") / 100.0 + F.lit(1e-9), 2).alias(
                "total_weight"
            ),
        )
    )


@register(
    "q_win_skyline",
    oracle="""
    WITH o AS (
        SELECT c.c_mktsegment AS seg, o.o_orderdate AS d, o.o_totalprice AS p
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    daily AS (
        SELECT seg, d, max(p) AS dmax FROM o GROUP BY seg, d
    ),
    frontier AS (
        SELECT seg, d, dmax
        FROM (
            SELECT seg, d, dmax,
                   max(dmax) OVER (PARTITION BY seg ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS prev_max
            FROM daily
        )
        WHERE prev_max IS NULL OR dmax > prev_max
    )
    SELECT o.seg, o.d AS o_orderdate, round(o.p, 2) AS o_totalprice
    FROM o JOIN frontier f
      ON o.seg = f.seg AND o.d = f.d AND o.p = f.dmax
    """,
)
def q_win_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) query per market segment: orders not
    dominated on (earlier date, higher total) — the ICDE'01 skyline
    operator (Börzsönyi et al.) in its sort-based formulation.

    A point is dominated iff another same-segment order has date ≤ and
    price ≥ with one strict. Decomposition: (1) collapse to per-(seg,
    day) max price — a map-side-combined agg, the only pass over the
    fact table; (2) frontier days = days whose max beats the running
    max of all STRICTLY earlier days (window over the calendar-bounded
    daily frame — equal-price later days are correctly dominated by
    the strict >); (3) equi-join back to recover every order at the
    frontier point, keeping same-day price ties (both undominated).

    At 100 TB step 2's window runs over |segments| × |days| rows — the
    calendar, not the order count; the join back is an equi-join on
    (seg, day) that AQE broadcasts."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    od = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderdate").alias("d"),
        F.col("o_totalprice").alias("p"),
    )
    daily = od.groupBy("seg", "d").agg(F.max("p").alias("dmax"))
    w = (
        Window.partitionBy("seg")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        daily.withColumn("prev_max", F.max("dmax").over(w))
        .filter(
            F.col("prev_max").isNull() | (F.col("dmax") > F.col("prev_max"))
        )
        .select(
            F.col("seg").alias("f_seg"),
            F.col("d").alias("f_d"),
            F.col("dmax").alias("f_p"),
        )
    )
    return od.join(
        F.broadcast(frontier),
        (F.col("seg") == F.col("f_seg"))
        & (F.col("d") == F.col("f_d"))
        & (F.col("p") == F.col("f_p")),
    ).select(
        "seg",
        F.col("d").alias("o_orderdate"),
        F.round("p", 2).alias("o_totalprice"),
    )


@register(
    "q_win_ntile",
    oracle="""
    WITH q AS (
        SELECT o_custkey, o_totalprice,
               ntile(4) OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice, o_orderkey) AS quartile
        FROM orders
    )
    SELECT quartile,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(o_totalprice) + 1e-9, 2) AS avg_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM q GROUP BY quartile
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing (the one ranking window the suite lacked): each
    customer's orders split into spend quartiles, rolled up to the
    per-quartile price profile — the within-entity tiering that feeds
    "your cheapest 25% of orders" features.

    ntile(k) semantics are identical across engines (equal buckets in
    row order, earlier buckets absorb the remainder) PROVIDED the
    order is total — hence the o_orderkey tiebreak; the rollup is then
    exact ints + 2-dp rounds.

    Shape: the window partitions by o_custkey (high-cardinality — no
    hot task, unlike an ntile over a whole table, which is the
    two-pass q_win_dist_scaled territory); the rollup reuses no state
    and map-side combines to 4 rows."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    q = o.select(
        "o_totalprice", F.ntile(4).over(w).alias("quartile")
    )
    return q.groupBy("quartile").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.avg("o_totalprice") + F.lit(1e-9), 2).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "q_win_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) = 1 THEN 1 ELSE 0 END AS is_first
        FROM events
    ),
    running AS (
        SELECT user_id, event_id,
               sum(is_first) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS distinct_types_so_far
        FROM flagged
    )
    SELECT user_id,
           CAST(max(distinct_types_so_far) AS BIGINT) AS final_distinct,
           CAST(min(CASE WHEN distinct_types_so_far >= 3 THEN event_id END)
                AS BIGINT) AS event_reaching_3
    FROM running GROUP BY user_id
    """,
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered stream — the window SQL
    forbids (DISTINCT inside a running frame) — via the first-
    occurrence-flag decomposition: rank each (user, type) by time,
    flag rank-1 rows, and a plain running SUM of flags IS the running
    distinct count.  Reported per user: the final distinct-type count
    and the event at which the user first reached 3 distinct types
    (the 'breadth milestone' activation metric).

    Shape: two windows sharing the user_id hash partitioning (one
    exchange) + one map-side-combined agg; the flag trick turns an
    unimplementable distinct-frame into O(1)-state running arithmetic
    at any scale."""
    e = table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1)
        .otherwise(0)
        .alias("is_first"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = flagged.select(
        "user_id",
        "event_id",
        F.sum("is_first").over(w_run).alias("distinct_types_so_far"),
    )
    return running.groupBy("user_id").agg(
        F.max("distinct_types_so_far")
        .cast("bigint")
        .alias("final_distinct"),
        F.min(
            F.when(
                F.col("distinct_types_so_far") >= 3, F.col("event_id")
            )
        )
        .cast("bigint")
        .alias("event_reaching_3"),
    )


@register(
    "q_win_share_of_total",
    oracle="""
    WITH cust AS (
        SELECT c_nationkey, o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey, o_custkey
    ),
    r AS (
        SELECT c_nationkey, o_custkey, cents,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY cents DESC, o_custkey) AS rnk,
               sum(cents) OVER (PARTITION BY c_nationkey) AS nat_cents
        FROM cust
    ),
    tot AS (SELECT sum(cents) AS tot_cents FROM cust)
    SELECT c_nationkey, rnk AS rank, o_custkey,
           round(cents / 100.0, 2) AS revenue,
           round(cents / CAST(nat_cents AS DOUBLE) + 1e-9, 4)
               AS share_of_nation,
           round(cents / CAST(tot_cents AS DOUBLE) + 1e-9, 6)
               AS share_of_total
    FROM r CROSS JOIN tot WHERE rnk <= 3
    ORDER BY c_nationkey, rank
    """,
)
def q_win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT at two report levels: each nation's top-3
    customers by revenue, with their share of the nation's revenue AND
    of the grand total — the classic OLAP 'contribution' readout
    (whale concentration per market) that q_agg_gini summarizes into
    one number and this query itemizes.

    Determinism: revenue is summed as exact integer CENTS (per-row
    round(x·100), the q_win_moving pattern), so ranking ties and both
    shares derive from identical integers; o_custkey breaks rank ties.
    Shape: one hash agg to (nation, customer) grain; the rank and
    nation-total windows share ONE nation-hash exchange; the grand
    total is a separate 1-row aggregate broadcast onto the ≤75
    surviving rows (the q_text_vocab totals pattern) — NO unpartitioned
    window ever touches the customer-grain frame."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).try_cast("bigint")
            ).alias("cents")
        )
    )
    wr = Window.partitionBy("c_nationkey").orderBy(
        F.desc("cents"), F.asc("o_custkey")
    )
    wn = Window.partitionBy("c_nationkey")
    r = cust.select(
        "c_nationkey",
        "o_custkey",
        "cents",
        F.row_number().over(wr).alias("rank"),
        F.sum("cents").over(wn).alias("nat_cents"),
    ).filter(F.col("rank") <= 3)
    tot = cust.agg(F.sum("cents").alias("tot_cents"))
    return r.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "rank",
        "o_custkey",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("cents") / F.col("nat_cents").cast("double") + F.lit(1e-9),
            4,
        ).alias("share_of_nation"),
        F.round(
            F.col("cents") / F.col("tot_cents").cast("double") + F.lit(1e-9),
            6,
        ).alias("share_of_total"),
    ).orderBy("c_nationkey", "rank")


# --- Round-10 registrations (formerly operators/staged_r10.py, the
# [STAGED r10] batch #434-450): moved into their family modules at
# the registration flip (VERDICT r9 §Next-round #2). ---


@register(
    "q_win_rolling_slope",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS pri, date_trunc('day', o_orderdate) AS d,
               round(sum(o_totalprice), 2) AS rev,
               date_diff('day', DATE '1992-01-01', o_orderdate::DATE) AS x
        FROM orders GROUP BY 1, 2, 4
    ),
    win AS (
        SELECT pri, d,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx,
               sum(rev) OVER w AS sy,
               sum(x * rev) OVER w AS sxy,
               sum(CAST(x AS DOUBLE) * x) OVER w AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY pri ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT pri AS o_orderpriority, d,
           round((n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx)
                 + 1e-9, 4) + 0.0 AS slope
    FROM win WHERE n = 7
    """,
)
def q_win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row rolling OLS slope of daily revenue per priority class —
    the trend-strength signal behind every 'revenue decelerating?'
    alert (q_ts_rolling_corr co-moves two series; this regresses ONE
    series on time).  β = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), assembled
    from five window sums over the SAME frame — one pass, no
    self-join.

    Cross-engine determinism: x is an exact integer day index, daily
    revenue is rounded to cents BEFORE the regression on both engines
    (the §2.1 two-step), the emitted day is a native TIMESTAMP on both
    (convention 10 — DATE surfaces as midnight-timestamp in pandas),
    windows are partitioned by priority (the bounded-key class), and
    rows without a full 7-day history are dropped identically via the
    frame row count."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.date_trunc("day", "o_orderdate").alias("d"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev")).withColumn(
        "x",
        F.datediff(F.to_date("d"), F.lit("1992-01-01").cast("date")),
    )
    w = (
        Window.partitionBy("pri")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    win = daily.select(
        "pri",
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("rev").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("rev")).over(w).alias("sxy"),
        F.sum(F.col("x").cast("double") * F.col("x")).over(w).alias("sxx"),
    )
    return win.filter(F.col("n") == 7).select(
        F.col("pri").alias("o_orderpriority"),
        "d",
        (
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (
                    F.col("n") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("slope"),
    )
