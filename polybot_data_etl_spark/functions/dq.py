"""Data-quality / validation operators — the checks an ETL pipeline
runs before loading (reference provenance: the repository/load layer
[REC src/etl/.DS_Store:4824] implies constraint-checked persistence;
these are the declarative validations that guard it).

All are plain aggregations/joins over the star schema:

  * q_dq_orphans       — referential integrity (FK orphan counts)
  * q_dq_profile       — per-column null/domain/range profile
  * q_dq_uniqueness    — key uniqueness violations
  * q_dq_skew          — group-size skew profile (the partition-skew
                         early-warning an operator watches before a
                         100 TB join)

Scale posture: orphan checks are anti-joins on the FK (shuffle or
broadcast by dim size); profiles are single-pass hash aggs with
map-side combine; the skew profile is two chained aggs.  Nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.plans.bounds import add_buckets
from polybot_data_etl_spark.registry import register


@register(
    "q_dq_orphans",
    oracle="""
    SELECT 'lineitem.l_orderkey' AS fk,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey',
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
)
def q_dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan row count per FK edge of the
    star schema, each edge a left-anti join (dimension side broadcast
    when small)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")

    def orphans(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str):
        cnt = (
            fact.join(dim, fact[fk] == dim[pk], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        return cnt.select(F.lit(label).alias("fk"), "n_orphans")

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey")
        .unionAll(orphans(o, "o_custkey", c, "c_custkey", "orders.o_custkey"))
        .unionAll(
            orphans(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey")
        )
    )


@register(
    "q_dq_profile",
    oracle="""
    SELECT count(*) AS n_rows,
           count(*) - count(o_custkey) AS null_custkey,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
               AS bad_status,
           count(*) FILTER (WHERE o_totalprice <= 0) AS nonpositive_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
                               OR o_orderdate >= TIMESTAMP '1999-01-01')
               AS date_out_of_range
    FROM orders
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of orders: null counts, closed-domain
    violations, range violations, min/max — one hash aggregate, the
    shape of a pre-load validation gate."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).alias("null_custkey"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count_if(~F.col("o_orderstatus").isin("F", "O", "P")).alias(
            "bad_status"
        ),
        F.count_if(F.col("o_totalprice") <= 0).alias("nonpositive_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.count_if(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
            | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        ).alias("date_out_of_range"),
    )


@register(
    "q_dq_uniqueness",
    oracle="""
    SELECT 'orders.o_orderkey' AS key,
           (SELECT count(*) FROM (
                SELECT o_orderkey FROM orders
                GROUP BY o_orderkey HAVING count(*) > 1)) AS n_dup_keys
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)',
           (SELECT count(*) FROM (
                SELECT l_orderkey, l_linenumber FROM lineitem
                GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
    UNION ALL
    SELECT 'events.event_id',
           (SELECT count(*) FROM (
                SELECT event_id FROM events
                GROUP BY event_id HAVING count(*) > 1))
    """,
)
def q_dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit: duplicated-key count per declared
    key (hash-agg + HAVING per key)."""

    def dups(df: DataFrame, cols: list[str], label: str):
        d = (
            df.groupBy(*cols)
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count("*").alias("n_dup_keys"))
        )
        return d.select(F.lit(label).alias("key"), "n_dup_keys")

    return (
        dups(table(spark, sf_dir, "orders"), ["o_orderkey"], "orders.o_orderkey")
        .unionAll(
            dups(
                table(spark, sf_dir, "lineitem"),
                ["l_orderkey", "l_linenumber"],
                "lineitem.(l_orderkey,l_linenumber)",
            )
        )
        .unionAll(
            dups(table(spark, sf_dir, "events"), ["event_id"], "events.event_id")
        )
    )


@register(
    "q_dq_skew",
    oracle="""
    SELECT count(*) AS n_keys,
           round(avg(c), 4) AS mean_rows,
           max(c) AS max_rows,
           round(max(c) / avg(c), 4) AS skew_factor,
           round(stddev_samp(c), 4) AS sd_rows
    FROM (SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey)
    """,
)
def q_dq_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: per-key row counts re-aggregated into
    max/mean skew factor — the statistic that decides whether a 100 TB
    join on this key needs salting / AQE skew splitting."""
    o = table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count("*").alias("c"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.round(F.avg("c"), 4).alias("mean_rows"),
        F.max("c").alias("max_rows"),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_factor"),
        F.round(F.stddev_samp("c"), 4).alias("sd_rows"),
    )


@register(
    "q_dq_freshness",
    oracle="""
    WITH typed AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
    g AS (SELECT max(ts) AS gmax FROM typed)
    SELECT event_type,
           max(ts) AS latest,
           (epoch_us((SELECT gmax FROM g)) - epoch_us(max(ts)))
               // 60000000 AS lag_minutes
    FROM typed GROUP BY event_type
    """,
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness: each event type's latest event and its lag
    behind the lake's global high-water mark, in whole minutes — the
    monitoring query that catches a stalled ingest topic before
    downstream windows silently go stale.

    The lag is integer µs arithmetic (epoch difference, floor-divided)
    on both engines, so the gate is float-free.  Shape: one per-type
    hash agg + a broadcast of the 1-row global max — two passes over
    metadata-prunable column (at 100 TB with date-partitioned events,
    max(ts) reads only the newest partitions' footers)."""
    e = table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(F.max("ts").alias("latest"))
    gmax = e.agg(F.max("ts").alias("gmax"))
    lag = F.expr(
        "(unix_micros(cast(gmax as timestamp))"
        " - unix_micros(cast(latest as timestamp))) div 60000000"
    )
    return (
        per_type.crossJoin(F.broadcast(gmax))
        .select("event_type", "latest", lag.alias("lag_minutes"))
    )


@register(
    "q_dq_psi",
    oracle="""
    WITH typed AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
    lab AS (
        SELECT event_type,
               CAST(floor(value / 50) AS BIGINT) AS bucket,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b'
                   END AS period
        FROM typed
    ),
    counts AS (
        SELECT event_type, bucket, period, count(*) AS n
        FROM lab GROUP BY event_type, bucket, period
    ),
    tots AS (
        SELECT event_type, period, sum(n) AS t
        FROM counts GROUP BY event_type, period
    ),
    shares AS (
        SELECT c.event_type, c.bucket, c.period, c.n * 1.0 / t.t AS p
        FROM counts c JOIN tots t USING (event_type, period)
    )
    SELECT a.event_type,
           count(*) AS n_buckets,
           round(sum((a.p - b.p) * ln(a.p / b.p)) + 1e-9, 4) AS psi
    FROM (SELECT * FROM shares WHERE period = 'a') a
    JOIN (SELECT * FROM shares WHERE period = 'b') b
      USING (event_type, bucket)
    GROUP BY a.event_type
    """,
)
def q_dq_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event type: value-distribution
    drift between the first and second half of the month over fixed
    $50 buckets — the monitoring statistic that catches a metric's
    distribution shifting even when its volume doesn't (PSI > 0.2 is
    the conventional 'investigate' threshold).

    Buckets present in only one period are excluded (inner join) so the
    log term is always finite — the standard zero-bucket convention.
    Shares come from integer counts via one double division; both
    engines sum the same ≤|buckets| PSI terms with the +1e-9 nudge
    against last-ulp libm ln() drift.  Shape: two stacked hash aggs
    (map-side partials), a broadcast-sized period-total join, and a
    ≤|type×bucket| self-equi-join — nothing scales with the raw row
    count after the first agg."""
    e = table(spark, sf_dir, "events")
    # SQL-text expressions (r13, guide §4): identical operator tree,
    # ~⅓ the Py4J round-trips per plan build.
    lab = e.selectExpr(
        "event_type",
        "CAST(floor(value / 50) AS LONG) AS bucket",
        "CASE WHEN ts < TIMESTAMP_NTZ '2024-01-16 00:00:00'"
        " THEN 'a' ELSE 'b' END AS period",
    )
    # counts feeds the period totals AND both share branches; a lazy cut
    # on this ≤|type×bucket×period|-row frame keeps the raw-event scan
    # at one execution.
    counts = (
        lab.groupBy("event_type", "bucket", "period")
        .agg(F.expr("count(*) AS n"))
        .localCheckpoint(eager=False)
    )
    tots = counts.groupBy("event_type", "period").agg(F.expr("sum(n) AS t"))
    shares = counts.join(tots, ["event_type", "period"]).selectExpr(
        "event_type", "bucket", "period", "n * 1.0D / t AS p"
    )
    a = shares.filter("period = 'a'").selectExpr(
        "event_type", "bucket", "p AS pa"
    )
    b = shares.filter("period = 'b'").selectExpr(
        "event_type", "bucket", "p AS pb"
    )
    return (
        a.join(b, ["event_type", "bucket"])
        .groupBy("event_type")
        .agg(
            F.expr("count(*) AS n_buckets"),
            F.expr(
                "round(sum((pa - pb) * ln(pa / pb)) + 1e-9, 4) AS psi"
            ),
        )
    )


@register(
    "q_agg_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY user_id)
    SELECT c.user_id,
           t.tot AS n_events,
           round(-sum((c.n * 1.0 / t.tot) * ln(c.n * 1.0 / t.tot))
                 + 1e-9, 4) AS entropy
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id, t.tot
    """,
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity score (0 = single-action bots, ln(5) ≈ 1.61 =
    uniform engagement) that segments users and flags scripted
    traffic.

    Shares from integer counts via one double division, ln via libm
    with the +1e-9 nudge; shape: two stacked map-side-combined hash
    aggs + a user-keyed equi-join of count frames — nothing after the
    first agg scales with raw volume."""
    e = table(spark, sf_dir, "events")
    # c feeds the per-user totals AND the share join; a lazy cut on the
    # |user×type|-bounded count frame keeps the event scan at one
    # execution.
    c = (
        e.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") * F.lit(1.0) / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "tot")
        .agg(
            F.round(-F.sum(p * F.log(p)) + F.lit(1e-9), 4).alias("entropy")
        )
        .select(
            "user_id", F.col("tot").alias("n_events"), "entropy"
        )
    )


@register(
    "q_dq_kanon",
    oracle="""
    SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
           count(*) >= 5 AS is_k_anonymous
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_dq_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the (nation, market-segment)
    quasi-identifier: any equivalence class smaller than k re-identifies
    its members when the table is released joined to public data.

    One map-side-combinable groupBy on the quasi-identifier — the audit
    costs the same as any distinct-count rollup at 100 TB.  Release
    gating (suppress or generalize small classes) composes downstream:
    semi-join the violating classes back onto the table.
    """
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("group_size"),
        (F.count("*") >= 5).alias("is_k_anonymous"),
    )


@register(
    "q_dq_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_rows,
           count(CASE WHEN abs(e.value - s.mu) > 3 * s.sigma THEN 1 END)
               AS n_outliers,
           round(min(s.mu), 4) AS mu,
           round(min(s.sigma), 4) AS sigma
    FROM events e JOIN stats s ON s.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def q_dq_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-sigma outlier audit per event type: how many values fall
    outside mean ± 3σ — the cheapest continuous-column sanity monitor
    (a broken upstream writer shows up here before it shows up in
    revenue).

    Two passes like every parametric audit: a 5-row stats aggregate
    broadcast back, then one conditional count.  The robust variant
    (median/MAD cutoffs) is the same plan with percentile cutpoints —
    see q_agg_winsorized for that shape.
    """
    e = table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("mu"))
                    > 3 * F.col("sigma"),
                    F.lit(1),
                )
            ).alias("n_outliers"),
            F.round(F.min("mu"), 4).alias("mu"),
            F.round(F.min("sigma"), 4).alias("sigma"),
        )
    )


@register(
    "q_dq_benford",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS digit
        FROM orders
        WHERE o_totalprice >= 1
    ),
    o AS (
        SELECT digit, count(*) AS obs,
               sum(count(*)) OVER () AS total
        FROM d GROUP BY digit
    )
    SELECT digit,
           cast(obs AS BIGINT) AS obs,
           round(obs / CAST(total AS DOUBLE) + 1e-9, 4) AS freq,
           round(log10(1e0 + 1e0 / digit) + 1e-9, 4) AS benford,
           round(abs(obs / CAST(total AS DOUBLE)
                     - log10(1e0 + 1e0 / digit)) + 1e-9, 4) AS abs_dev
    FROM o
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed
    leading-digit frequencies vs log10(1 + 1/d), with the absolute
    deviation per digit — the classic fabricated-data / broken-feed
    detector for financial measures (Nigrini's forensic-accounting
    standard).

    Shape: one narrow projection to the leading digit, one 9-group
    map-side-combined agg; the total comes from a window over the
    9-row aggregate (never the fact table)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= 1) & ~F.isnan("o_totalprice")
    )  # NaN sorts above every number in Spark, so >= 1 alone admits it
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    from pyspark.sql import Window

    agg = d.groupBy("digit").agg(F.count("*").alias("obs"))
    t = agg.withColumn(
        "total", F.sum("obs").over(Window.partitionBy())
    )
    freq = F.col("obs") / F.col("total").cast("double")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return t.select(
        "digit",
        F.col("obs").cast("bigint").alias("obs"),
        F.round(freq + F.lit(1e-9), 4).alias("freq"),
        F.round(benford + F.lit(1e-9), 4).alias("benford"),
        F.round(F.abs(freq - benford) + F.lit(1e-9), 4).alias("abs_dev"),
    )


@register(
    "q_dq_expectations",
    oracle="""
    WITH checks AS (
        SELECT
            count(*) AS n_rows,
            sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS c_value_neg,
            sum(CASE WHEN event_type NOT IN
                     ('click', 'view', 'purchase', 'signup', 'error')
                     THEN 1 ELSE 0 END) AS c_type_domain,
            sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS c_user_null,
            sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                           AS INTEGER) NOT BETWEEN 0 AND 100
                          OR json_extract_string(props, '$.k') IS NULL
                     THEN 1 ELSE 0 END) AS c_props_k,
            sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '2020-01-01'
                          OR ts::TIMESTAMP >= TIMESTAMP '2030-01-01'
                     THEN 1 ELSE 0 END) AS c_ts_range
        FROM events
    )
    SELECT u.name AS expectation,
           CAST(u.viol AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_rows,
           (u.viol = 0) AS passed
    FROM (
        SELECT n_rows,
               unnest([
                   {'name': 'value_non_negative', 'viol': c_value_neg},
                   {'name': 'event_type_in_domain', 'viol': c_type_domain},
                   {'name': 'user_id_not_null', 'viol': c_user_null},
                   {'name': 'props_k_in_0_100', 'viol': c_props_k},
                   {'name': 'ts_in_2020s', 'viol': c_ts_range}
               ]) AS u
        FROM checks
    )
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over the event stream (the
    Great-Expectations/Deequ pattern): five schema/domain constraints
    — non-negative value, event_type domain, user_id presence, props.k
    ∈ [0,100], timestamps inside the 2020s — evaluated in ONE pass,
    one row per expectation with its violation count and pass bit.
    This is the CI gate a lakehouse ingestion job runs before
    publishing a partition.

    Shape: all five checks are conditional counts inside a SINGLE
    map-side-combined 1-row aggregate (one scan, no matter how many
    expectations), then a literal-array inline explodes the row to the
    ≤5-row report — adding an expectation costs one more counter in
    the same reduce, never another pass.  All counts are exact
    integers; no float anywhere."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    checks = e.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias(
            "c_value_neg"
        ),
        F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            ).otherwise(0)
        ).alias("c_type_domain"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "c_user_null"
        ),
        F.sum(
            F.when(~k.between(0, 100) | k.isNull(), 1).otherwise(0)
        ).alias("c_props_k"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("c_ts_range"),
    )
    report = F.array(
        *[
            F.struct(
                F.lit(nm).alias("name"), F.col(c).alias("viol")
            )
            for nm, c in [
                ("value_non_negative", "c_value_neg"),
                ("event_type_in_domain", "c_type_domain"),
                ("user_id_not_null", "c_user_null"),
                ("props_k_in_0_100", "c_props_k"),
                ("ts_in_2020s", "c_ts_range"),
            ]
        ]
    )
    return checks.select("n_rows", F.explode(report).alias("u")).select(
        F.col("u.name").alias("expectation"),
        F.col("u.viol").cast("bigint").alias("n_violations"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        (F.col("u.viol") == 0).alias("passed"),
    )


@register(
    "q_dq_drift_ks",
    oracle="""
    WITH half AS (
        SELECT event_type, round(value, 2) AS v,
               CASE WHEN date_trunc('day', ts)
                         < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
                   AS h
        FROM events
    ),
    g AS (
        SELECT event_type, v,
               sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS c1
        FROM half GROUP BY event_type, v
    ),
    tot AS (
        SELECT event_type, sum(c0) AS n0, sum(c1) AS n1
        FROM g GROUP BY event_type
    ),
    c AS (
        SELECT event_type, v,
               sum(c0) OVER (PARTITION BY event_type ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS p0,
               sum(c1) OVER (PARTITION BY event_type ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS p1
        FROM g
    )
    SELECT c.event_type,
           CAST(t.n0 AS BIGINT) AS n_first_half,
           CAST(t.n1 AS BIGINT) AS n_second_half,
           round(max(abs(c.p0 * 1e0 / t.n0 - c.p1 * 1e0 / t.n1))
                 + 1e-9, 4) AS ks
    FROM c JOIN tot t ON t.event_type = c.event_type
    GROUP BY c.event_type, t.n0, t.n1
    """,
)
def q_dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: two-sample Kolmogorov-Smirnov on
    `value` between the first and second half of the month, per event
    type — the nonparametric twin of q_dq_psi (no binning choices; KS
    sees ANY CDF shift, PSI only what its bins resolve).  A training
    pipeline runs exactly this between a reference and a candidate
    snapshot before accepting new data.

    Shape: per-(type, 2-dp value) counts in one map-side-combined agg
    (the distinct-value frame bounds everything downstream), both
    half-CDFs from one type-partitioned ordered prefix, then a
    per-type max reduce — integer ratios throughout, the
    q_stats_mannwhitney bucket recipe available if a value grid
    outgrows a task."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    half = e.select(
        "event_type",
        F.round("value", 2).alias("v"),
        F.when(
            F.date_trunc("day", "ts")
            < F.lit("2024-01-16").cast("timestamp"),
            0,
        )
        .otherwise(1)
        .alias("h"),
    )
    g = half.groupBy("event_type", "v").agg(
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = g.groupBy("event_type").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "event_type",
        F.sum("c0").over(w).alias("p0"),
        F.sum("c1").over(w).alias("p1"),
    )
    return (
        c.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n0", "n1")
        .agg(
            # try_divide: a type whose rows all fall in one half has an
            # empty comparison sample — KS undefined, NULL not an ANSI
            # crash (round-6 degenerate-input audit)
            F.round(
                F.max(
                    F.abs(
                        F.try_divide(F.col("p0"), F.col("n0"))
                        - F.try_divide(F.col("p1"), F.col("n1"))
                    )
                )
                + F.lit(1e-9),
                4,
            ).alias("ks")
        )
        .select(
            "event_type",
            F.col("n0").cast("bigint").alias("n_first_half"),
            F.col("n1").cast("bigint").alias("n_second_half"),
            "ks",
        )
    )


@register(
    "q_dq_fd",
    oracle="""
    WITH fd1 AS (
        SELECT p_brand AS lhs, count(DISTINCT p_type) AS d
        FROM part GROUP BY p_brand
    ),
    fd2 AS (
        SELECT CAST(o_custkey AS VARCHAR) AS lhs,
               count(DISTINCT o_orderpriority) AS d
        FROM orders GROUP BY o_custkey
    ),
    fd3 AS (
        SELECT CAST(n_nationkey AS VARCHAR) AS lhs,
               count(DISTINCT n_regionkey) AS d
        FROM nation GROUP BY n_nationkey
    ),
    audits AS (
        SELECT 'part.p_brand->p_type' AS fd, * FROM fd1
        UNION ALL
        SELECT 'orders.o_custkey->o_orderpriority' AS fd, * FROM fd2
        UNION ALL
        SELECT 'nation.n_nationkey->n_regionkey' AS fd, * FROM fd3
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(max(d) AS BIGINT) AS max_rhs,
           round(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) * 1e0 / count(*)
                 + 1e-9, 4) AS violation_rate,
           CAST(max(d) = 1 AS BOOLEAN) AS holds
    FROM audits GROUP BY fd
    """,
)
def q_dq_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each declared candidate FD
    A → B, how many A-values map to more than one B (profiling-style
    FD discovery restricted to a declared candidate list — the TANE
    per-candidate check as one distinct-count aggregation each).
    Three audits spanning hold/violate cases: a true key FD
    (n_nationkey → n_regionkey), a violated business rule
    (o_custkey → o_orderpriority), and a violated catalog rule
    (p_brand → p_type).

    Shape per FD: one groupBy(lhs).agg(countDistinct(rhs)) — a
    two-stage partial-distinct agg whose shuffle carries (lhs, rhs)
    pairs, deduplicated map-side — then a k-row reduce; the three
    audits union into one plan.  At 100 TB each audit is one pass of
    the column pair, and the candidate list (not the data) bounds the
    number of passes."""
    def audit(df: DataFrame, fd: str, lhs: str, rhs: str) -> DataFrame:
        per = df.groupBy(F.col(lhs).cast("string").alias("lhs")).agg(
            F.countDistinct(rhs).alias("d")
        )
        return per.agg(
            F.lit(fd).alias("fd"),
            F.count("*").cast("bigint").alias("n_lhs"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.max("d").cast("bigint").alias("max_rhs"),
            F.round(
                F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
                / F.count("*")
                + F.lit(1e-9),
                4,
            ).alias("violation_rate"),
            (F.max("d") == 1).alias("holds"),
        ).select(
            "fd", "n_lhs", "n_violating", "max_rhs", "violation_rate",
            "holds",
        )

    return (
        audit(
            table(spark, sf_dir, "part"),
            "part.p_brand->p_type", "p_brand", "p_type",
        )
        .unionByName(
            audit(
                table(spark, sf_dir, "orders"),
                "orders.o_custkey->o_orderpriority",
                "o_custkey", "o_orderpriority",
            )
        )
        .unionByName(
            audit(
                table(spark, sf_dir, "nation"),
                "nation.n_nationkey->n_regionkey",
                "n_nationkey", "n_regionkey",
            )
        )
    )


@register(
    "q_dq_reconcile",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS lc
        FROM lineitem GROUP BY l_orderkey
    ),
    g AS (
        SELECT cast(round(o.o_totalprice * 100) AS BIGINT) - l.lc AS gap
        FROM orders o JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN abs(gap) <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           round(sum(CASE WHEN abs(gap) <= 1 THEN 1 ELSE 0 END)
                 * 1e0 / count(*) + 1e-9, 4) AS match_rate,
           round(avg(abs(gap)) / 100 + 1e-9, 4) AS mean_abs_gap,
           round(max(abs(gap)) / 100.0, 2) AS max_abs_gap
    FROM g
    """,
)
def q_dq_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: per order, the header total
    (o_totalprice) vs the sum of its line items — the classic
    warehouse consistency check (header/detail drift is how silent
    pipeline bugs and partial loads surface).  Reports match rate at
    1-cent tolerance plus the gap magnitude profile.

    Determinism: both sides convert to exact integer cents per row
    (q_win_moving pattern) BEFORE summing, so every gap is an exact
    integer — bit-identical cross-engine.  Shape: one map-side-
    combined detail agg keyed by orderkey, one equi-join to headers
    (both sides hash-partitioned on the same key), one 1-row reduce.
    At 100 TB this is the canonical co-partitioned fact-fact join —
    bucketing both tables by orderkey makes it zero-exchange
    (tests/test_bucketing.py proves that layout)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    l = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).try_cast("long")).alias(
            "lc"
        )
    )
    g = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        (
            F.round(F.col("o_totalprice") * 100).try_cast("long") - F.col("lc")
        ).alias("gap")
    )
    agap = F.abs(F.col("gap"))
    return g.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(agap <= 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.round(
            F.sum(F.when(agap <= 1, 1).otherwise(0)) / F.count("*")
            + F.lit(1e-9),
            4,
        ).alias("match_rate"),
        F.round(F.avg(agap) / 100 + F.lit(1e-9), 4).alias("mean_abs_gap"),
        F.round(F.max(agap) / 100.0, 2).alias("max_abs_gap"),
    )


@register(
    "q_dq_rle",
    oracle="""
    WITH ordered AS (
        SELECT l_returnflag, l_linestatus, l_shipdate,
               lag(l_returnflag) OVER w AS p_rf,
               lag(l_linestatus) OVER w AS p_ls,
               lag(l_shipdate) OVER w AS p_sd
        FROM lineitem
        WINDOW w AS (ORDER BY l_orderkey, l_linenumber,
                              l_returnflag, l_linestatus, l_shipdate)
    ),
    runs AS (
        SELECT
            sum(CASE WHEN p_rf IS NULL OR l_returnflag <> p_rf
                     THEN 1 ELSE 0 END) AS r_rf,
            sum(CASE WHEN p_ls IS NULL OR l_linestatus <> p_ls
                     THEN 1 ELSE 0 END) AS r_ls,
            sum(CASE WHEN p_sd IS NULL OR l_shipdate <> p_sd
                     THEN 1 ELSE 0 END) AS r_sd,
            count(*) AS n
        FROM ordered
    )
    SELECT col, CAST(n AS BIGINT) AS n_rows,
           CAST(n_runs AS BIGINT) AS n_runs,
           round(n * 1e0 / n_runs + 1e-9, 4) AS avg_run_len
    FROM (
        SELECT 'l_returnflag' AS col, n, r_rf AS n_runs FROM runs
        UNION ALL
        SELECT 'l_linestatus', n, r_ls FROM runs
        UNION ALL
        SELECT 'l_shipdate', n, r_sd FROM runs
    )
    """,
)
def q_dq_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length profile under the logical sort order
    (l_orderkey, l_linenumber): number of value runs and mean run
    length per column — the storage-layout diagnostic that predicts
    RLE/dictionary encoding wins (a column with avg_run_len ≈ 1 under
    the current order is why you re-cluster; the Z-order machinery in
    tests/test_layout.py is the fix this measures the need for).

    Registered plan since the round-11 flip (VERDICT r10 §Next-round
    #1; SURVEY §2 #423): no global data sort.  The r1-r10
    fixture-scale form (one lag window over the whole logical order —
    a one-task global sort at 100 TB) is demoted to
    :func:`rle_profile_global`, kept as the pytest witness.
    Two-pass bucket-offset construction (the q_win_dist_scaled /
    q_stats_mannwhitney recipe, adapted to a LAG across boundaries):

    1. Bucket rows by sampled ``l_orderkey`` quantile literals
       (driver-side sampling — the RangePartitioner precedent).
       Buckets are orderkey RANGES, so global logical order ==
       (bucket, local order): every task sorts only its own slice.
    2. Per-bucket lag windows count LOCAL run starts (each bucket's
       first row counts as a start), one map-side-combined agg per
       bucket.
    3. Boundary stitch on the one-row-per-bucket summary: per bucket,
       ``min_by``/``max_by`` over the full sort-key struct yield the
       first/last row's profiled values; where bucket k's first value
       equals bucket k−1's last, the local pass double-counted that
       run — subtract.  The only unpartitioned window runs over this
       bounded summary, never the data.

    Ties in the full sort key are identical in every profiled column
    (the rle_profile_global determinism argument), so min_by/max_by
    tie choice cannot move a boundary comparison.  tests/test_round8.py
    pins this plan equal to the global-window witness at bucket counts
    1-32, tests/test_oracle.py at 256+ buckets; the bkt-partitioned
    plan shape is pinned in tests/test_plans.py."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    order_cols = (
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    base = li.select(*order_cols)
    bb = add_buckets(
        spark, ("rle_probe", sf_dir), base, {"bkt": "l_orderkey"}
    )
    w = Window.partitionBy("bkt").orderBy(*order_cols)
    local = bb.select(
        "bkt",
        *order_cols,
        F.lag("l_returnflag").over(w).alias("p_rf"),
        F.lag("l_linestatus").over(w).alias("p_ls"),
        F.lag("l_shipdate").over(w).alias("p_sd"),
    )

    def run(c: str, p: str):
        return F.sum(
            F.when(F.col(p).isNull() | (F.col(c) != F.col(p)), 1).otherwise(0)
        )

    key = F.struct(*[F.col(c) for c in order_cols])
    vals = F.struct(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.col("l_shipdate").alias("sd"),
    )
    # ONE combined per-bucket aggregate off the window output (r12):
    # the local run counts AND the boundary min_by/max_by group by the
    # same ``bkt`` the window just partitioned on, so fusing them rides
    # the window's exchange (no second Exchange) and the boundary
    # branch's separate scan+bucket pass disappears — executed plan
    # went 2 lineitem scans / 3 Exchange → 1 scan / 1 Exchange
    # (min_by/max_by read the same rows the lag window sorted; values
    # and tie behavior are unchanged).
    lruns = local.groupBy("bkt").agg(
        run("l_returnflag", "p_rf").alias("r_rf"),
        run("l_linestatus", "p_ls").alias("r_ls"),
        run("l_shipdate", "p_sd").alias("r_sd"),
        F.count("*").alias("n"),
        F.min_by(vals, key).alias("first"),
        F.max_by(vals, key).alias("last"),
    )
    # Stitch + totals in ONE chain off the bounded summary (r12): the
    # lag window rides over the one-row-per-bucket summary carrying
    # the run counts along, and a single final aggregate computes totals and
    # boundary-continuation subtractions together — the old
    # tot ⨯ broadcast(adj) crossJoin hung TWO consumers off `lruns`,
    # which duplicated the whole scan→window→agg subtree per consumer
    # (the SCALE.md shared-subtree trap, here on the hot path).
    w_seq = Window.orderBy("bkt")  # one summary row per bucket
    stitched = lruns.select(
        "r_rf", "r_ls", "r_sd", "n", "first",
        F.lag("last").over(w_seq).alias("prev_last"),
    )

    def cont(field: str):
        return F.sum(
            F.when(
                F.col(f"prev_last.{field}") == F.col(f"first.{field}"), 1
            ).otherwise(0)
        )

    runs = stitched.agg(
        (F.sum("r_rf") - cont("rf")).alias("r_rf"),
        (F.sum("r_ls") - cont("ls")).alias("r_ls"),
        (F.sum("r_sd") - cont("sd")).alias("r_sd"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
    )
    return runs.select(
        F.expr(
            "stack(3,"
            " 'l_returnflag', cast(n as bigint), cast(r_rf as bigint),"
            " 'l_linestatus', cast(n as bigint), cast(r_ls as bigint),"
            " 'l_shipdate',   cast(n as bigint), cast(r_sd as bigint))"
            " as (col, n_rows, n_runs)"
        )
    ).select(
        "col",
        "n_rows",
        "n_runs",
        F.round(F.col("n_rows") / F.col("n_runs") + F.lit(1e-9), 4).alias(
            "avg_run_len"
        ),
    )


def rle_profile_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture-scale global-window form of :func:`q_dq_rle` —
    REGISTERED for rounds 1-10, demoted to the test-only cross-check
    at the round-11 flip (the registered plan is now the bucketed
    recipe; this form's single unpartitioned lag window is a one-task
    global sort at 100 TB).  tests/test_round8.py pins it value-equal
    to the registered plan at bucket counts 1-32.

    Determinism: (l_orderkey, l_linenumber) is NOT unique in the
    synthetic lineitem, and tie order under a non-total sort is
    physical row order — the r7 two-run audit caught n_runs moving
    with the input file layout.  The window therefore tie-breaks on
    the three profiled columns themselves: rows still tied after that
    are identical in every compared column, so any residual tie order
    cannot move a run boundary."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    w = Window.orderBy(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    ordered = li.select(
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
        F.lag("l_returnflag").over(w).alias("p_rf"),
        F.lag("l_linestatus").over(w).alias("p_ls"),
        F.lag("l_shipdate").over(w).alias("p_sd"),
    )
    run = lambda c, p: F.sum(
        F.when(
            F.col(p).isNull() | (F.col(c) != F.col(p)), 1
        ).otherwise(0)
    )
    runs = ordered.agg(
        run("l_returnflag", "p_rf").alias("r_rf"),
        run("l_linestatus", "p_ls").alias("r_ls"),
        run("l_shipdate", "p_sd").alias("r_sd"),
        F.count("*").alias("n"),
    )
    # stack() unpivot instead of checkpoint + 3-branch union: ONE plan
    # subtree, the window executes once with no lineage break — and no
    # build-time execution (localCheckpoint forces toRdd, which under
    # AQE runs the whole upstream DAG during plan CONSTRUCTION; this
    # builder alone was 6.2 s of the suite's measured plan-build wall).
    return runs.select(
        F.expr(
            "stack(3,"
            " 'l_returnflag', cast(n as bigint), cast(r_rf as bigint),"
            " 'l_linestatus', cast(n as bigint), cast(r_ls as bigint),"
            " 'l_shipdate',   cast(n as bigint), cast(r_sd as bigint))"
            " as (col, n_rows, n_runs)"
        )
    ).select(
        "col",
        "n_rows",
        "n_runs",
        F.round(F.col("n_rows") / F.col("n_runs") + F.lit(1e-9), 4).alias(
            "avg_run_len"
        ),
    )


@register(
    "q_dq_id_gaps",
    oracle="""
    WITH d AS (
        SELECT event_id,
               lead(event_id) OVER (ORDER BY event_id) AS nxt
        FROM events
    ),
    gaps AS (
        SELECT event_id AS gap_after, nxt - event_id - 1 AS missing
        FROM d WHERE nxt - event_id > 1
    )
    SELECT CAST((SELECT count(*) FROM events) AS BIGINT) AS n_rows,
           CAST((SELECT max(event_id) - min(event_id) + 1 FROM events)
                AS BIGINT) AS id_span,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(coalesce(sum(missing), 0) AS BIGINT) AS n_missing,
           CAST(coalesce(max(missing), 0) AS BIGINT) AS max_gap
    FROM gaps
    """,
)
def q_dq_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key continuity audit: holes in the event_id sequence
    (count of gaps, total missing ids, largest hole) — the load-
    completeness check that catches dropped batches and partial loads
    the row count alone hides (10k rows with a 5k-wide hole means a
    range didn't land).

    Registered plan since the round-11 flip (VERDICT r10 §Next-round
    #1; SURVEY §2 #424): the LEAD variant of q_dq_rle's two-pass
    bucket-offset recipe, no global id sort.  The r1-r10
    fixture-scale form (one unpartitioned lead() — a one-task global
    sort at 100 TB) is demoted to :func:`id_gaps_global`, kept as the
    pytest witness.

    1. Bucket rows by sampled ``event_id`` quantile literals: buckets
       are id RANGES, so global id order == (bucket, local order).
    2. Per-bucket lead() pairs each id with its in-bucket successor.
    3. Each bucket's LAST row has no local successor; its true
       successor is the NEXT bucket's minimum id — a lead() over the
       one-row-per-bucket min summary.  (Consecutive-pair multisets
       are tie-order-invariant under duplicate ids, so the stitch is
       exact, not approximate.)

    Pinned EXACTLY equal to the global-window witness at bucket counts
    1-32 in tests/test_round8.py; guarded fleet-wide by the
    global-window-over-data plan sweep in tests/test_plans.py."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    b = add_buckets(
        spark,
        ("id_gap_probe", sf_dir),
        e.select("event_id"),
        {"bkt": "event_id"},
    )
    w = Window.partitionBy("bkt").orderBy("event_id")
    local = b.withColumn("nxt_local", F.lead("event_id").over(w))
    # ONE per-bucket aggregate off the window output (r12, the
    # q_dq_rle fusion): local gap stats, bucket min/max,
    # and the row count all group by the ``bkt`` the window just
    # partitioned on, so they ride its exchange — the old shape ran
    # THREE passes over events (window pass, per-bucket-min pass, and
    # a separate n_rows/id_span scan) plus a join-back of the stitch.
    # Executed plan went 3 scans / 3 Exchange → 1 scan / 1 Exchange.
    lgap = F.col("nxt_local") - F.col("event_id")
    summary = local.groupBy("bkt").agg(
        F.count("*").alias("n_b"),
        F.min("event_id").alias("min_b"),
        F.max("event_id").alias("max_b"),
        F.sum(F.when(lgap > 1, 1).otherwise(0)).alias("g_l"),
        F.sum(F.when(lgap > 1, lgap - 1).otherwise(0)).alias("m_l"),
        F.max(F.when(lgap > 1, lgap - 1)).alias("x_l"),
    )
    # Boundary stitch on the bounded summary: each bucket's last row's
    # true successor is the next NON-EMPTY bucket's min (lead over the
    # bkt order skips absent buckets exactly like the old per-bucket-
    # min lead did); consecutive-pair multisets are tie-order-invariant
    # under duplicate ids, so the stitch stays exact.
    w_seq = Window.orderBy("bkt")  # one summary row per bucket
    bgap = F.lead("min_b").over(w_seq) - F.col("max_b")
    stitched = summary.select(
        "n_b", "min_b", "max_b", "g_l", "m_l", "x_l",
        F.when(bgap > 1, bgap - 1).alias("b_miss"),
    )
    return stitched.agg(
        F.coalesce(F.sum("n_b"), F.lit(0)).cast("bigint").alias("n_rows"),
        (F.max("max_b") - F.min("min_b") + 1).cast("bigint").alias("id_span"),
        F.coalesce(
            F.sum("g_l")
            + F.sum(F.when(F.col("b_miss").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        ).cast("bigint").alias("n_gaps"),
        F.coalesce(
            F.sum("m_l") + F.sum(F.coalesce(F.col("b_miss"), F.lit(0))),
            F.lit(0),
        ).cast("bigint").alias("n_missing"),
        # greatest() yields the largest NON-null argument (null only
        # when both are), so a single coalesce restores the 0 default
        F.coalesce(
            F.greatest(F.max("x_l"), F.max("b_miss")), F.lit(0)
        ).cast("bigint").alias("max_gap"),
    )


def id_gaps_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture-scale global-window form of :func:`q_dq_id_gaps` —
    REGISTERED for rounds 1-10, demoted to the test-only cross-check
    at the round-11 flip.  Shape: one lead() over the id order → gap
    rows → a 1-row reduce; the span/count cross-checks come from a
    plain min/max agg.  tests/test_round8.py pins it value-equal to
    the registered bucketed plan at bucket counts 1-32."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    d = e.select(
        "event_id",
        F.lead("event_id").over(Window.orderBy("event_id")).alias("nxt"),
    )
    gaps = d.filter(F.col("nxt") - F.col("event_id") > 1).select(
        (F.col("nxt") - F.col("event_id") - 1).alias("missing")
    )
    tot = e.agg(
        F.count("*").alias("n_rows"),
        (F.max("event_id") - F.min("event_id") + 1).alias("id_span"),
    )
    g = gaps.agg(
        F.count("*").alias("n_gaps"),
        F.coalesce(F.sum("missing"), F.lit(0)).alias("n_missing"),
        F.coalesce(F.max("missing"), F.lit(0)).alias("max_gap"),
    )
    return tot.crossJoin(F.broadcast(g)).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("id_span").cast("bigint").alias("id_span"),
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.col("n_missing").cast("bigint").alias("n_missing"),
        F.col("max_gap").cast("bigint").alias("max_gap"),
    )


@register(
    "q_dq_cardinality_shift",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               count(DISTINCT user_id) AS du
        FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events) e
        GROUP BY event_type, date_trunc('day', ts)
    ),
    w AS (
        SELECT event_type, day, du,
               CAST(median(du) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS med7
        FROM daily
    )
    SELECT event_type, day, CAST(du AS BIGINT) AS distinct_users,
           round(med7 + 1e-9, 4) AS med7,
           round((du - med7) / med7 + 1e-9, 4) AS deviation,
           CAST(abs((du - med7) / med7) > 3e-1 AS BOOLEAN) AS anomalous
    FROM w ORDER BY event_type, day
    """,
)
def q_dq_cardinality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user cardinality monitor per event type: each
    day's exact user count against its own 7-day rolling MEDIAN
    baseline, flagging >30% swings — the data-quality tripwire for
    silent upstream breakage (a dropped ingest partition or a bot
    flood shifts CARDINALITY long before value distributions move;
    q_dq_freshness catches late data, this catches thin or fat data).

    Shape: exact per-(type, day) COUNT(DISTINCT user_id) — one
    two-phase distinct agg on the fact table (at 100 TB the same plan
    swaps to approx_count_distinct without touching the monitor
    algebra); everything downstream (the collect_list median over the
    ≤7-element frame, q_ts_rolling_median's construction) runs on the
    calendar-bounded day frame."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.countDistinct("user_id").alias("du"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("du").over(w))
    k = F.size(arr)
    med = F.when(
        k % 2 == 1,
        F.element_at(arr, ((k + 1) / 2).cast("int")).cast("double"),
    ).otherwise(
        (
            F.element_at(arr, (k / 2).cast("int"))
            + F.element_at(arr, (k / 2 + 1).cast("int"))
        )
        / 2.0
    )
    ww = daily.withColumn("med7", med)
    # med7 = 0 when a day's users are all NULL-scrubbed — NULL deviation,
    # not an ANSI crash (null-injection audit)
    dev = F.try_divide(F.col("du") - F.col("med7"), F.col("med7"))
    return ww.select(
        "event_type",
        "day",
        F.col("du").cast("bigint").alias("distinct_users"),
        F.round(F.col("med7") + F.lit(1e-9), 4).alias("med7"),
        F.round(dev + F.lit(1e-9), 4).alias("deviation"),
        (F.abs(dev) > 0.3).alias("anomalous"),
    ).orderBy("event_type", "day")


@register(
    "q_dq_clock_skew",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY event_id) AS dt
        FROM events
    )
    SELECT event_type,
           CAST(count(dt) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN dt < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inversions,
           round(sum(CASE WHEN dt < 0 THEN 1 ELSE 0 END)
                 / CAST(count(dt) AS DOUBLE) + 1e-9, 6) AS inversion_rate,
           CAST(coalesce(max(CASE WHEN dt < 0 THEN -dt END), 0) AS BIGINT)
               AS max_backwards_s,
           CAST(sum(CASE WHEN dt < 0 THEN 1 ELSE 0 END) > 0 AS BOOLEAN)
               AS skew_detected
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def q_dq_clock_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clock-skew / out-of-order-ingest detector: walking each user's
    stream in EVENT-ID order (the producer's sequence), how often does
    the timestamp go backwards, and by how much?  Inversions mean the
    assigned timestamps disagree with the append order — the silent
    killer of every asof join, session cut, and watermark in this
    suite (a 0-row answer here is the precondition q_join_asof's
    correctness quietly assumes; this makes it checkable).

    Shape: ONE user-partitioned lag window in event_id order
    (high-cardinality key) → conditional-count agg per type; gaps are
    exact integer seconds (floor(epoch) ≡ unix_timestamp)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "event_type", (sec - F.lag(sec).over(w)).alias("dt")
    )
    neg = F.when(F.col("dt") < 0, 1).otherwise(0)
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("dt").cast("bigint").alias("n_pairs"),
            F.sum(neg).cast("bigint").alias("n_inversions"),
            # try_divide: a single-event user stream has no pairs —
            # rate undefined, NULL not an ANSI crash (round-6 audit)
            F.round(
                F.try_divide(F.sum(neg), F.count("dt").cast("double"))
                + F.lit(1e-9),
                6,
            ).alias("inversion_rate"),
            F.coalesce(
                F.max(F.when(F.col("dt") < 0, -F.col("dt"))), F.lit(0)
            )
            .cast("bigint")
            .alias("max_backwards_s"),
            (F.sum(neg) > 0).alias("skew_detected"),
        )
        .orderBy("event_type")
    )


@register(
    "q_dq_drift_chi2",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS sec
        FROM events
    ),
    split AS (
        SELECT event_type,
               CASE WHEN 2 * sec < (SELECT min(sec) FROM ev)
                                   + (SELECT max(sec) FROM ev)
                    THEN 0 ELSE 1 END AS half
        FROM ev
    ),
    o AS (
        SELECT event_type, half, count(*) AS obs
        FROM split GROUP BY event_type, half
    ),
    t AS (
        SELECT event_type, half, obs,
               sum(obs) OVER (PARTITION BY event_type) AS row_tot,
               sum(obs) OVER (PARTITION BY half) AS col_tot,
               sum(obs) OVER () AS grand
        FROM o
    ),
    c AS (
        SELECT sum(pow(obs - row_tot * col_tot / CAST(grand AS DOUBLE), 2)
                   / (row_tot * col_tot / CAST(grand AS DOUBLE))) AS chi2,
               count(DISTINCT event_type) AS k
        FROM t
    )
    SELECT CAST(k AS BIGINT) AS k_categories,
           CAST(k - 1 AS BIGINT) AS dof,
           round(chi2 + 1e-9, 4) AS chi2,
           round(chi2 / (k - 1) + 1e-9, 4) AS chi2_per_dof,
           CAST(chi2 / (k - 1) > 2 AS BOOLEAN) AS drifted
    FROM c
    """,
)
def q_dq_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix-drift check: chi-square independence of the
    event-type distribution between the first and second half of the
    observation window — the CATEGORICAL companion to q_dq_psi /
    q_dq_drift_ks (which watch numeric columns): a silently changed
    client or dropped producer shifts the type MIX before any value
    distribution moves.  Reported per-dof (χ²/(k−1) > 2 ≈ drift) so
    the verdict doesn't need a chi-square table.

    Shape: the time midpoint is a 1-row min/max aggregate broadcast
    onto the scan (exact integer epoch seconds both engines, so the
    2·sec < lo+hi split never touches floats); then ONE hash agg to
    the k×2 contingency table and the q_stats_chisq marginal windows
    over that tiny frame."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "event_type", F.unix_timestamp(F.col("ts")).alias("sec")
    )
    mm = e.agg(F.min("sec").alias("lo"), F.max("sec").alias("hi"))
    split = e.crossJoin(F.broadcast(mm)).select(
        "event_type",
        F.when(2 * F.col("sec") < F.col("lo") + F.col("hi"), 0)
        .otherwise(1)
        .alias("half"),
    )
    o = split.groupBy("event_type", "half").agg(F.count("*").alias("obs"))
    t = o.select(
        "*",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("half")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("grand"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("grand").cast("double")
    c = t.agg(
        F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2"),
        F.countDistinct("event_type").alias("k"),
    )
    k = F.col("k")
    # try_divide: one observed category → dof = 0, the per-dof statistic
    # is undefined — NULL, not an ANSI crash (round-6 audit)
    per_dof = F.try_divide(F.col("chi2"), k - 1)
    return c.select(
        k.cast("bigint").alias("k_categories"),
        (k - 1).cast("bigint").alias("dof"),
        F.round(F.col("chi2") + F.lit(1e-9), 4).alias("chi2"),
        F.round(per_dof + F.lit(1e-9), 4).alias("chi2_per_dof"),
        (per_dof > 2).alias("drifted"),
    )


@register(
    "q_dq_decimal_profile",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4)
               AS share_whole,
           round(sum(CASE WHEN cents % 10 = 0 AND cents % 100 <> 0
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4)
               AS share_dime,
           round(sum(CASE WHEN cents % 100 = 99 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4)
               AS share_99,
           round(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) / 1e-2 + 1e-9, 4)
               AS whole_vs_uniform,
           CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) > 5e-2 AS BOOLEAN)
               AS rounding_spike
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def q_dq_decimal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal-digit forensics on the money column: the share of
    values landing on whole units (cents ≡ 00), dimes (≡ x0), and
    psychological .99 endings, with the whole-unit share expressed as
    a multiple of the uniform 1% expectation — organic measurements
    spread terminal cents ~uniformly; a whole-unit spike means
    hand-entered, defaulted, or silently re-rounded data (the
    last-digit cousin of q_dq_benford's FIRST-digit test, catching
    fabrication modes Benford can't).

    Determinism: values quantize to exact integer cents per row (the
    q_win_moving pattern), so every share is int-over-int.  Shape: one
    narrow projection + one map-side-combined conditional agg."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).try_cast("bigint")
    c = e.select("event_type", cents.alias("cents"))
    n = F.count("*")
    whole = F.sum(F.when(F.col("cents") % 100 == 0, 1).otherwise(0))
    share = lambda cond: F.round(
        F.sum(F.when(cond, 1).otherwise(0)) / n.cast("double") + F.lit(1e-9),
        4,
    )
    return (
        c.groupBy("event_type")
        .agg(
            n.cast("bigint").alias("n"),
            share(F.col("cents") % 100 == 0).alias("share_whole"),
            share(
                (F.col("cents") % 10 == 0) & (F.col("cents") % 100 != 0)
            ).alias("share_dime"),
            share(F.col("cents") % 100 == 99).alias("share_99"),
            F.round(
                whole / n.cast("double") / F.lit(0.01) + F.lit(1e-9), 4
            ).alias("whole_vs_uniform"),
            (whole / n.cast("double") > 0.05).alias("rounding_spike"),
        )
        .orderBy("event_type")
    )
