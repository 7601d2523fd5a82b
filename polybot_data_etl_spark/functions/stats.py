"""Statistical-inference operators: Welch's t-test, chi-square
independence, and simple linear regression — the A/B-testing /
experimentation surface a product-analytics ETL engine exposes over its
event stream.

Reference provenance: the reference's sql/ + processor stages ran
analytics over social-engagement events [REC src/etl/.DS_Store:4664,
4992]; experiment readouts (did variant B lift the metric?) are the
canonical consumer of such an events table. Concrete surface is [DES]
per SURVEY.md §2.

Cross-engine determinism: every statistic is derived from RAW MOMENTS
(counts and plain sums) through identical algebra on both engines,
never from the engines' own var_samp/corr/regr_* accumulators (their
incremental Welford-style update order differs in the last ulps).
Plain sums agree bit-for-bit at these scales; the shared formula keeps
the rounded outputs hash-stable (same policy as q_agg_corr,
operators/aggregates.py:393).

Scale posture (100 TB): each statistic is ONE map-side-combined hash
aggregation over a handful of groups (≤ tens) producing a few partial
sums per group — the cheapest distributed shape there is. No joins, no
windows, no second pass; the t-test's two-group compare and the
chi-square's expected-count algebra run on the ≤10-row aggregate,
which AQE collapses to a single post-shuffle task.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.registry import register


@register(
    "q_stats_ttest",
    oracle="""
    WITH m AS (
        SELECT event_type,
               count(*) AS n,
               sum(value) AS sx,
               sum(value * value) AS sxx
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type
    ),
    s AS (
        SELECT event_type, n,
               sx / n AS mean,
               (sxx - sx * sx / n) / (n - 1) AS var
        FROM m
    )
    SELECT a.n AS n_click, b.n AS n_view,
           round(a.mean, 4) AS mean_click,
           round(b.mean, 4) AS mean_view,
           round((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 4) AS t_stat,
           round(power(a.var / a.n + b.var / b.n, 2)
                 / (power(a.var / a.n, 2) / (a.n - 1)
                    + power(b.var / b.n, 2) / (b.n - 1)), 1) AS dof_welch
    FROM (SELECT * FROM s WHERE event_type = 'click') a
    CROSS JOIN (SELECT * FROM s WHERE event_type = 'view') b
    """,
)
def q_stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test: click-vs-view lift on `value`
    (unequal variances, Welch–Satterthwaite dof). One conditional
    aggregation gives both groups' moments in one row; no row when
    either group is empty (the oracle's cross join of two summaries)."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )

    def moments(kind: str) -> tuple:
        hit = F.col("event_type") == kind
        v = F.when(hit, F.col("value"))
        return (
            F.count_if(hit).alias(f"n_{kind}"),
            F.sum(v).alias(f"sx_{kind}"),
            F.sum(v * v).alias(f"sxx_{kind}"),
        )

    def summary(kind: str) -> tuple:
        n, sx, sxx = (F.col(f"{c}_{kind}") for c in ("n", "sx", "sxx"))
        return n, sx / n, (sxx - sx * sx / n) / (n - 1)

    m = e.agg(*moments("click"), *moments("view")).where(
        (F.col("n_click") > 0) & (F.col("n_view") > 0)
    )
    n_a, m_a, v_a = summary("click")
    n_b, m_b, v_b = summary("view")
    se2 = v_a / n_a + v_b / n_b
    dof = F.pow(se2, 2) / (
        F.pow(v_a / n_a, 2) / (n_a - 1) + F.pow(v_b / n_b, 2) / (n_b - 1)
    )
    return m.select(
        "n_click",
        "n_view",
        F.round(m_a, 4).alias("mean_click"),
        F.round(m_b, 4).alias("mean_view"),
        F.round((m_a - m_b) / F.sqrt(se2), 4).alias("t_stat"),
        F.round(dof, 1).alias("dof_welch"),
    )


@register(
    "q_stats_chisq",
    oracle="""
    WITH o AS (
        SELECT event_type,
               cast(user_id % 2 AS INTEGER) AS cohort,
               count(*) AS obs
        FROM events
        GROUP BY event_type, user_id % 2
    ),
    t AS (
        SELECT event_type, cohort, obs,
               sum(obs) OVER (PARTITION BY event_type) AS row_tot,
               sum(obs) OVER (PARTITION BY cohort) AS col_tot,
               sum(obs) OVER () AS grand
        FROM o
    )
    SELECT cast(count(*) AS BIGINT) AS n_cells,
           round(sum(power(obs - row_tot * col_tot / cast(grand AS DOUBLE), 2)
                     / (row_tot * col_tot / cast(grand AS DOUBLE))), 4)
               AS chi2
    FROM t
    """,
)
def q_stats_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence: event_type × cohort
    (user_id parity) contingency table → Σ (O−E)²/E.

    Shape: one hash agg to the 10-cell contingency table, then the
    marginals come from windows over that TINY aggregate (≤ rows ×
    cohorts cells regardless of input size) — the windows never touch
    the fact table."""
    e = table(spark, sf_dir, "events")
    o = e.groupBy(
        "event_type", (F.col("user_id") % 2).cast("int").alias("cohort")
    ).agg(F.count("*").alias("obs"))
    from pyspark.sql import Window

    t = o.select(
        "event_type",
        "cohort",
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("cohort")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("grand"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("grand").cast("double")
    return t.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.round(F.sum(F.pow(F.col("obs") - exp, 2) / exp), 4).alias("chi2"),
    )


@register(
    "q_stats_regression",
    oracle="""
    WITH m AS (
        SELECT event_type,
               count(*) AS n,
               sum(cast(hour(ts) AS DOUBLE)) AS sx,
               sum(value) AS sy,
               sum(cast(hour(ts) AS DOUBLE) * value) AS sxy,
               sum(cast(hour(ts) AS DOUBLE) * cast(hour(ts) AS DOUBLE))
                   AS sxx,
               sum(value * value) AS syy
        FROM events
        GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           round(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * sx / n, 4) AS intercept,
           round(power(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM m
    ORDER BY event_type
    """,
)
def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of value ~ hour-of-day:
    slope, intercept, R² per event type, from the five raw moments
    (the regr_slope/regr_r2 surface, computed via shared algebra so
    both engines round identically)."""
    e = table(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    y = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # try_divide: a singleton / constant-x group has zero regressor
    # variance — the fit is undefined, NULL not an ANSI crash (r6 audit)
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return m.select(
        "event_type",
        n,
        F.round(slope, 4).alias("slope"),
        F.round(sy / n - slope * sx / n, 4).alias("intercept"),
        F.round(
            F.try_divide(
                F.pow(n * sxy - sx * sy, 2),
                (n * sxx - sx * sx) * (n * syy - sy * sy),
            ),
            4,
        ).alias("r2"),
    ).orderBy("event_type")


@register(
    "q_stats_cuped",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               cast(user_id % 2 AS INTEGER) AS variant,
               sum(CASE WHEN ts <  TIMESTAMP '2024-01-16' THEN value
                        ELSE 0 END) AS x,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value
                        ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM per_user
    ),
    t AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
               sx / n AS mx
        FROM m
    )
    SELECT variant,
           cast(count(*) AS BIGINT) AS n_users,
           round(avg(y), 4) AS mean_y,
           round(avg(y - t.theta * (x - t.mx)), 4) AS mean_y_cuped,
           round(t.theta, 4) AS theta
    FROM per_user CROSS JOIN t
    GROUP BY variant, t.theta
    ORDER BY variant
    """,
)
def q_stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): adjust each
    user's experiment-period metric y by θ·(x − x̄) where x is the
    PRE-period covariate and θ = cov(x,y)/var(x) — the standard
    experimentation readout that shrinks metric variance without
    biasing the treatment difference (θ pooled across variants).

    Split: pre = Jan 1-15, experiment = Jan 16-30; variant = user_id
    parity (a hash split in production — q_split_assign).

    Shape: one hash agg to per-user (x, y) — fixed two doubles per
    user; θ from one global moment agg over that frame (plain sums,
    shared algebra both engines); the 1-row (θ, x̄) frame broadcasts
    back. Three aggs total, no fact-table windows."""
    e = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias(
            "x"
        ),
        F.sum(
            F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)
        ).alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    # bounded per-user (x, y) frame consumed twice (θ moments + the
    # adjusted means): one lineage cut → one events scan
    per_user = per_user.localCheckpoint(eager=False)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    t = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        # try_divide: zero covariate variance → θ undefined (r6 audit)
        F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx).alias("theta"),
        (sx / n).alias("mx"),
    )
    adj = per_user.crossJoin(F.broadcast(t))
    return (
        adj.groupBy("variant", "theta")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(
                F.avg(
                    F.col("y")
                    - F.col("theta") * (F.col("x") - F.col("mx"))
                ),
                4,
            ).alias("mean_y_cuped"),
        )
        .select(
            "variant",
            "n_users",
            "mean_y",
            "mean_y_cuped",
            F.round("theta", 4).alias("theta"),
        )
        .orderBy("variant")
    )


_WILSON_Z = 1.96


@register(
    "q_stats_wilson",
    oracle=f"""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicks,
               sum(CASE WHEN event_type IN ('click', 'view') THEN 1
                        ELSE 0 END) AS n
        FROM events GROUP BY date_trunc('day', ts)
    )
    SELECT day, cast(clicks AS BIGINT) AS clicks, cast(n AS BIGINT) AS n,
           round(clicks / cast(n AS DOUBLE) + 1e-9, 4) AS ctr,
           round((clicks / cast(n AS DOUBLE)
                  + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n)
                  - {_WILSON_Z} * sqrt(
                        clicks / cast(n AS DOUBLE)
                        * (1e0 - clicks / cast(n AS DOUBLE)) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4e0 * n * n)))
                 / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n) + 1e-9, 4)
               AS wilson_low
    FROM d
    """,
)
def q_stats_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click-through rate with the Wilson score lower bound
    (z=1.96) — the interval estimate that stays sane at small n, the
    standard ranking statistic for rate metrics (Wilson 1927; the
    "how not to sort by average rating" formula).

    Shape: one map-side-combined conditional-count agg to the daily
    frame; the interval algebra runs on |days| rows. Same-literal z
    and shared formula keep both engines' doubles identical before
    rounding."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.sum(
            F.when(
                F.col("event_type").isin("click", "view"), 1
            ).otherwise(0)
        ).alias("n"),
    )
    z = F.lit(_WILSON_Z)
    n = F.col("n").cast("double")
    # try_divide: a day with zero click/view impressions has no CTR —
    # undefined (NULL), not an ANSI crash (round-6 degenerate audit)
    p = F.try_divide(F.col("clicks"), n)
    wilson = (
        p
        + F.try_divide(z * z, 2 * n)
        - z
        * F.sqrt(
            F.try_divide(p * (1 - p), n) + F.try_divide(z * z, 4 * n * n)
        )
    ) / (1 + F.try_divide(z * z, n))
    return d.select(
        "day",
        F.col("clicks").cast("bigint").alias("clicks"),
        F.col("n").cast("bigint").alias("n"),
        F.round(p + F.lit(1e-9), 4).alias("ctr"),
        F.round(wilson + F.lit(1e-9), 4).alias("wilson_low"),
    )


@register(
    "q_stats_mannwhitney",
    oracle="""
    WITH v AS (
        SELECT value, count(*) AS cnt,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS cnt_a
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY value
    ),
    r AS (
        SELECT value, cnt, cnt_a,
               sum(cnt) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
        FROM v
    ),
    s AS (
        SELECT sum(cnt_a) AS n1,
               sum(cnt) - sum(cnt_a) AS n2,
               sum(cnt) AS n,
               sum((cum - (cnt - 1) / 2.0) * cnt_a) AS r1,
               sum(cnt * cnt * cnt - cnt) AS ties
        FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n_click,
           CAST(n2 AS BIGINT) AS n_view,
           round(r1 - n1 * (n1 + 1) / 2.0, 2) AS u_stat,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0
                        * ((n + 1) - ties * 1.0 / (n * (n - 1))))
                 + 1e-9, 4) AS z
    FROM s
    """,
)
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: does the `value`
    distribution differ between click and view events? — the
    nonparametric sibling of q_stats_ttest for metrics too skewed for
    a mean compare.  Tie-averaged ranks, U = R₁ − n₁(n₁+1)/2, and the
    tie-corrected normal approximation z = (U − μ)/σ.

    Determinism without float-sum luck: ranks come from the DISTINCT-
    value frame (value, cnt, cnt_a), where the cumulative count is an
    integer and the tied-block average rank cum − (cnt−1)/2 is an exact
    multiple of 0.5 — so R₁ is a sum of exactly-representable halves,
    identical on any engine in any order; n/ties are integer sums.

    Scale shape: the fact table collapses to the distinct-value frame
    with ONE map-side-combined hash agg; the rank prefix-sum then runs
    the engine's two-pass bucket-offset recipe (broadcast quantile
    cut-point array → bucket-local cumsums → ≤P-row carry prefix —
    same as q_win_dist_scaled), so no single task ever sorts the whole
    value domain; the final reduce is a 1-row aggregate."""
    from pyspark.sql import Window

    n_buckets = 32
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy("value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("cnt_a"),
        )
    )
    # In-plan cut points (round 8): the bounds used to be collected
    # with .first() at plan-construction time — a full execution of
    # the distinct-value agg INSIDE the builder (3.1 s of measured
    # plan-build wall), plus a second execution at query time.  As a
    # broadcast 1-row array crossed onto the frame, the same recipe is
    # ONE action, and exchange reuse dedupes the v agg across its
    # three consumers (bounds, local cumsums, offsets).
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = v.agg(
        F.array_distinct(
            F.coalesce(
                F.percentile_approx("value", qs, 10_000), F.array()
            )
        ).alias("cuts")
    )
    v = v.crossJoin(F.broadcast(bounds)).withColumn(
        "bkt",
        F.size(F.filter(F.col("cuts"), lambda x: x <= F.col("value"))),
    ).drop("cuts")
    w_local = (
        Window.partitionBy("bkt")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = v.withColumn("lcum", F.sum("cnt").over(w_local))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        v.groupBy("bkt")
        .agg(F.sum("cnt").alias("bt"))
        .withColumn("off", F.coalesce(F.sum("bt").over(w_off), F.lit(0)))
        .select("bkt", "off")
    )
    r = local.join(F.broadcast(offsets), "bkt").withColumn(
        "cum", F.col("off") + F.col("lcum")
    )
    s = r.agg(
        F.sum("cnt_a").alias("n1"),
        (F.sum("cnt") - F.sum("cnt_a")).alias("n2"),
        F.sum("cnt").alias("n"),
        F.sum(
            (F.col("cum") - (F.col("cnt") - 1) / 2.0) * F.col("cnt_a")
        ).alias("r1"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("ties"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    u = F.col("r1") - n1 * (n1 + 1) / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0
        * ((n + 1) - F.col("ties") * 1.0 / (n * (n - 1)))
    )
    return s.select(
        n1.cast("bigint").alias("n_click"),
        n2.cast("bigint").alias("n_view"),
        F.round(u, 2).alias("u_stat"),
        F.round((u - n1 * n2 / 2.0) / sigma + F.lit(1e-9), 4).alias("z"),
    )


@register(
    "q_stats_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(any_value(med), 4) AS median_,
           round(median(abs(e.value - med)), 4) AS mad,
           round(1.4826 * median(abs(e.value - med)) + 1e-9, 4)
               AS mad_sigma
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust spread
    estimator outlier-laden metrics need (q_dq_outliers' IQR sibling);
    mad_sigma = 1.4826·MAD is the consistent normal-σ estimate.

    Two exact-median passes: per-group median, broadcast the ≤|types|-
    row frame back, median of absolute deviations.  Exact medians are
    sort-based aggregates (the q_agg_percentile cost class); the 100 TB
    path swaps both passes to approx_percentile(…, accuracy) with the
    same plan shape.  Median of exact parquet doubles — no float-sum
    order anywhere except the final ×1.4826 (nudged)."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("med"), 4).alias("median_"),
            F.round(
                F.median(F.abs(F.col("value") - F.col("med"))), 4
            ).alias("mad"),
            F.round(
                F.lit(1.4826)
                * F.median(F.abs(F.col("value") - F.col("med")))
                + F.lit(1e-9),
                4,
            ).alias("mad_sigma"),
        )
    )


@register(
    "q_stats_spearman",
    oracle="""
    WITH d AS (
        SELECT lang, n_chars AS x,
               len(string_split(text, ' ')) AS y
        FROM documents
    ),
    rx AS (
        SELECT lang, x,
               sum(cnt) OVER (PARTITION BY lang ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                   - (cnt - 1) / 2.0 AS r
        FROM (SELECT lang, x, count(*) AS cnt FROM d GROUP BY lang, x)
    ),
    ry AS (
        SELECT lang, y,
               sum(cnt) OVER (PARTITION BY lang ORDER BY y
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                   - (cnt - 1) / 2.0 AS r
        FROM (SELECT lang, y, count(*) AS cnt FROM d GROUP BY lang, y)
    ),
    m AS (
        SELECT d.lang, count(*) AS c,
               sum(rx.r) AS sx, sum(ry.r) AS sy,
               sum(rx.r * ry.r) AS sxy,
               sum(rx.r * rx.r) AS sxx,
               sum(ry.r * ry.r) AS syy
        FROM d
        JOIN rx ON rx.lang = d.lang AND rx.x = d.x
        JOIN ry ON ry.lang = d.lang AND ry.y = d.y
        GROUP BY d.lang
    )
    SELECT lang, CAST(c AS BIGINT) AS n_docs,
           round((c * sxy - sx * sy)
                 / sqrt((c * sxx - sx * sx) * (c * syy - sy * sy))
                 + 1e-9, 4) AS rho
    FROM m
    """,
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per language between document length
    (n_chars) and whitespace token count — the robust monotonic-
    association twin of q_agg_corr's Pearson (outlier documents can't
    move it), the standard screen for redundant features before
    training.

    Determinism: tie-averaged ranks come from the DISTINCT-VALUE frame
    (rank = cum − (cnt−1)/2 — exact half-integers, order-independent;
    the q_stats_mannwhitney machinery applied per variable), and rho
    is derived from raw rank moments through the shared q_agg_corr
    algebra — rank sums/products are exact multiples of 0.25, so both
    engines see identical moments.

    Scale shape: each variable collapses to its distinct-value frame
    with one map-side-combined agg; the rank prefix runs per (lang,
    value-bucket) exactly as q_win_dist_scaled when a frame outgrows a
    task (bounded by |distinct values|, not corpus size at these
    fixtures); two equi-joins back on (lang, value) — broadcastable
    while frames are small — then ONE moment agg per lang."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(F.split(F.col("text"), " ")).alias("y"),
    )

    def rank_frame(col: str) -> DataFrame:
        w = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            d.groupBy("lang", col)
            .agg(F.count("*").alias("cnt"))
            .withColumn(
                "r", F.sum("cnt").over(w) - (F.col("cnt") - 1) / 2.0
            )
            .select("lang", col, "r")
        )

    rx = rank_frame("x").withColumnRenamed("r", "rx")
    ry = rank_frame("y").withColumnRenamed("r", "ry")
    m = (
        d.join(F.broadcast(rx), ["lang", "x"])
        .join(F.broadcast(ry), ["lang", "y"])
        .groupBy("lang")
        .agg(
            F.count("*").alias("c"),
            F.sum("rx").alias("sx"),
            F.sum("ry").alias("sy"),
            F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
            F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
            F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        )
    )
    c, sx, sy = F.col("c"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "lang",
        c.cast("bigint").alias("n_docs"),
        # try_divide: all-tied ranks (e.g. a single doc) have zero rank
        # variance — ρ undefined, NULL not an ANSI crash (r6 audit)
        F.round(
            F.try_divide(
                c * sxy - sx * sy,
                F.sqrt((c * sxx - sx * sx) * (c * syy - sy * sy)),
            )
            + F.lit(1e-9),
            4,
        ).alias("rho"),
    )


@register(
    "q_stats_kruskal",
    oracle="""
    WITH v AS (
        SELECT value, event_type, count(*) AS cnt
        FROM events GROUP BY value, event_type
    ),
    d AS (
        SELECT value, sum(cnt) AS tot
        FROM v GROUP BY value
    ),
    r AS (
        SELECT value,
               sum(tot) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                   - (tot - 1) / 2.0 AS rank_,
               tot
        FROM d
    ),
    g AS (
        SELECT v.event_type,
               sum(v.cnt) AS ng,
               sum(r.rank_ * v.cnt) AS rg
        FROM v JOIN r ON r.value = v.value
        GROUP BY v.event_type
    ),
    s AS (
        SELECT sum(ng) AS n,
               sum(rg * rg / ng) AS rsq,
               count(*) AS k
        FROM g
    ),
    t AS (
        SELECT sum(tot * tot * tot - tot) AS ties FROM d
    )
    SELECT CAST(s.k AS BIGINT) AS k_groups,
           CAST(s.n AS BIGINT) AS n,
           round((12.0 / (s.n * (s.n + 1)) * s.rsq - 3 * (s.n + 1))
                 / (1 - t.ties * 1.0 / (s.n * s.n * s.n - s.n))
                 + 1e-9, 4) AS h_stat
    FROM s, t
    """,
)
def q_stats_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: does `value` differ across ALL event types at
    once? — the k-group extension of q_stats_mannwhitney (one omnibus
    test instead of k² pairwise comparisons), tie-corrected:
    H = [12/(N(N+1)) · Σ R²g/n g − 3(N+1)] / (1 − Σ(t³−t)/(N³−N)).

    Determinism: the same distinct-value-frame machinery — tied-block
    average ranks cum − (tot−1)/2 are exact half-integers from integer
    cumulative counts; per-group rank sums Σ rank·cnt are exact
    multiples of 0.5; the H algebra runs on a k-row aggregate.

    Scale shape: fact → (value, type) frame with one map-side-combined
    agg; the rank prefix runs over the value-marginal frame (two-pass
    quantile-bucket recipe when it outgrows a task, exactly as
    q_stats_mannwhitney); one broadcast-sized join back on value, a
    k-row group agg, and a 1-row reduce."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    v = e.groupBy("value", "event_type").agg(F.count("*").alias("cnt"))
    d = v.groupBy("value").agg(F.sum("cnt").alias("tot"))
    # two-pass bucket-offset rank prefix (the q_stats_mannwhitney /
    # q_win_dist_scaled recipe): broadcast quantile cut-point array →
    # bucket-local cumsums → ≤P-row carry prefix — no single task ever
    # sorts the whole value domain.  In-plan bounds (round 8): the old
    # .first() executed the value-marginal agg at plan-build time.
    n_buckets = 32
    bounds = d.agg(
        F.array_distinct(
            F.coalesce(
                F.percentile_approx(
                    "value",
                    [i / n_buckets for i in range(1, n_buckets)],
                    10_000,
                ),
                F.array(),
            )
        ).alias("cuts")
    )
    d = d.crossJoin(F.broadcast(bounds)).withColumn(
        "bkt",
        F.size(F.filter(F.col("cuts"), lambda x: x <= F.col("value"))),
    ).drop("cuts")
    w_local = (
        Window.partitionBy("bkt")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        d.groupBy("bkt")
        .agg(F.sum("tot").alias("bt"))
        .withColumn("off", F.coalesce(F.sum("bt").over(w_off), F.lit(0)))
        .select("bkt", "off")
    )
    r = (
        d.withColumn("lcum", F.sum("tot").over(w_local))
        .join(F.broadcast(offsets), "bkt")
        .select(
            "value",
            (
                F.col("off") + F.col("lcum") - (F.col("tot") - 1) / 2.0
            ).alias("rank_"),
            "tot",
        )
    )
    g = (
        v.join(F.broadcast(r.select("value", "rank_")), "value")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("ng"),
            F.sum(F.col("rank_") * F.col("cnt")).alias("rg"),
        )
    )
    s = g.agg(
        F.sum("ng").alias("n"),
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("rsq"),
        F.count("*").alias("k"),
    )
    ties = d.agg(
        F.sum(
            F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot")
        ).alias("ties")
    )
    n = F.col("n")
    h_raw = F.lit(12.0) / (n * (n + 1)) * F.col("rsq") - 3 * (n + 1)
    # try_divide: n = 1 zeroes the tie-correction denominator (n³−n) —
    # H undefined, NULL not an ANSI crash (round-6 degenerate audit)
    h = F.try_divide(
        h_raw, 1 - F.try_divide(F.col("ties") * F.lit(1.0), n * n * n - n)
    )
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("k").cast("bigint").alias("k_groups"),
        n.cast("bigint").alias("n"),
        F.round(h + F.lit(1e-9), 4).alias("h_stat"),
    )


@register(
    "q_stats_proportion",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               count(*) AS n,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x
        FROM events
        GROUP BY 1
    ),
    w AS (
        SELECT max(CASE WHEN variant = 'A' THEN x END) AS xa,
               max(CASE WHEN variant = 'A' THEN n END) AS na,
               max(CASE WHEN variant = 'B' THEN x END) AS xb,
               max(CASE WHEN variant = 'B' THEN n END) AS nb
        FROM g
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(xa * 1e0 / na + 1e-9, 4) AS rate_a,
           round(xb * 1e0 / nb + 1e-9, 4) AS rate_b,
           round((xa * 1e0 / na - xb * 1e0 / nb)
                 / sqrt((xa + xb) * 1e0 / (na + nb)
                        * (1 - (xa + xb) * 1e0 / (na + nb))
                        * (1e0 / na + 1e0 / nb))
                 + 1e-9, 4) AS z
    FROM w
    """,
)
def q_stats_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on click-through rate between the
    even/odd-user_id variants (the hash-split A/B assignment of
    q_split_assign) — the binary-metric experiment readout beside
    q_stats_ttest's continuous one; pooled-variance z.

    Raw-moment policy: both engines derive the statistic from the four
    integer counts (x_a, n_a, x_b, n_b) through identical algebra —
    integer sums can't diverge, the z algebra is fixed-order double
    ops.  Shape: ONE map-side-combined 2-group agg pivoted to a single
    row via conditional max — no join, no window."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        )
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == "A", F.col("x"))).alias("xa"),
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "B", F.col("x"))).alias("xb"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
    )
    xa, na = F.col("xa"), F.col("na")
    xb, nb = F.col("xb"), F.col("nb")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    z = (pa - pb) / F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    return w.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(pa + F.lit(1e-9), 4).alias("rate_a"),
        F.round(pb + F.lit(1e-9), 4).alias("rate_b"),
        F.round(z + F.lit(1e-9), 4).alias("z"),
    )


@register(
    "q_stats_ratio",
    oracle="""
    WITH per_user AS (
        SELECT event_type, user_id,
               sum(value) AS x, count(*) AS y
        FROM events GROUP BY event_type, user_id
    ),
    m AS (
        SELECT event_type, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy,
               sum(x * y) AS sxy
        FROM per_user GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_users,
           round(sx / sy + 1e-9, 4) AS ratio,
           round(sqrt(
               ((sxx - sx * sx / n) / (n - 1)
                + (sx / sy) * (sx / sy) * (syy - sy * sy / n) / (n - 1)
                - 2 * (sx / sy) * (sxy - sx * sy / n) / (n - 1))
               / n) / (sy / n) + 1e-9, 4) AS se_delta
    FROM m
    """,
)
def q_stats_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-metric inference per event type: value-per-event ratio
    R = Σx/Σy over per-user aggregates, with the DELTA-METHOD standard
    error — the correct uncertainty for ratio metrics whose numerator
    and denominator are correlated within users (naive per-event SEs
    are wrong because events within a user aren't independent; the
    per-user unit-of-analysis + delta linearization is the standard
    experimentation fix):  SE² ≈ (var x + R²·var y − 2R·cov(x,y)) /
    (n·ȳ²).

    Shape: per-(type, user) agg (high-cardinality, map-side combined)
    collapses the stream; per-type raw moments (Σx, Σy, Σx², Σy²,
    Σxy) in one more agg; the delta algebra runs on the ≤|types|-row
    frame — the q_agg_corr shared-algebra policy throughout."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum("value").alias("x"), F.count("*").alias("y")
    )
    m = per_user.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # try_divide: singleton groups (n-1 = 0) or a zero denominator sum
    # leave the delta-method SE undefined — NULL, not an ANSI crash
    r = F.try_divide(sx, sy)
    var_x = F.try_divide(sxx - sx * sx / n, n - 1)
    var_y = F.try_divide(syy - sy * sy / n, n - 1)
    cov = F.try_divide(sxy - sx * sy / n, n - 1)
    se = F.try_divide(
        F.sqrt((var_x + r * r * var_y - 2 * r * cov) / n), sy / n
    )
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_users"),
        F.round(r + F.lit(1e-9), 4).alias("ratio"),
        F.round(se + F.lit(1e-9), 4).alias("se_delta"),
    )


# Two-sided alpha=0.05 and power=0.80 normal quantiles, shipped as
# exact literals (both engines have no inverse-normal builtin; the
# constants ARE the public formula inputs).
_Z_ALPHA = 1.959964
_Z_POWER = 0.841621
_MDE_REL = 0.05  # minimum detectable effect: 5% relative lift


@register(
    "q_stats_samplesize",
    oracle=f"""
    WITH m AS (
        SELECT event_type,
               count(*) AS n,
               avg(value) AS mu,
               var_samp(value) AS v
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_obs,
           round(mu + 1e-9, 4) AS mean_value,
           round(sqrt(v) + 1e-9, 4) AS sd_value,
           CAST(ceil(({_Z_ALPHA} + {_Z_POWER}) * ({_Z_ALPHA} + {_Z_POWER})
                     * 2 * v / ((mu * {_MDE_REL}) * (mu * {_MDE_REL})))
                AS BIGINT) AS n_per_arm,
           round(ceil(({_Z_ALPHA} + {_Z_POWER}) * ({_Z_ALPHA} + {_Z_POWER})
                      * 2 * v / ((mu * {_MDE_REL}) * (mu * {_MDE_REL})))
                 / n + 1e-9, 4) AS arms_per_current_n
    FROM m
    """,
)
def q_stats_samplesize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the sample size per arm needed to
    detect a 5% relative lift in mean `value` at α=0.05 (two-sided)
    with 80% power — n = (z_α/2 + z_β)² · 2σ² / δ² — plus how many
    such arms the current traffic already covers.  The planning query
    run BEFORE q_stats_ttest's post-hoc test.

    Determinism: one raw-moment agg per type; the z constants are
    exact shared literals; ceil() lands on an integer only when the
    ratio is exact, and the inputs (var of 2-dp values over thousands
    of rows) sit far from integer boundaries, so the BIGINT ceil is
    stable cross-engine; floats round at 4 dp + nudge.

    Shape: ONE map-side-combined hash agg (count/sum/sum² state), then
    scalar algebra on the ≤|types|-row frame — the q_stats_ttest
    skeleton minus the second group."""
    e = table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    z2 = (_Z_ALPHA + _Z_POWER) ** 2
    delta2 = (F.col("mu") * _MDE_REL) * (F.col("mu") * _MDE_REL)
    n_arm = F.ceil(F.lit(z2) * 2 * F.col("v") / delta2)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(F.col("mu") + F.lit(1e-9), 4).alias("mean_value"),
        F.round(F.sqrt("v") + F.lit(1e-9), 4).alias("sd_value"),
        n_arm.cast("bigint").alias("n_per_arm"),
        F.round(n_arm / F.col("n") + F.lit(1e-9), 4).alias(
            "arms_per_current_n"
        ),
    )


# Abramowitz & Stegun 7.1.26 erf approximation constants (|ε|<1.5e-7)
# — shipped as exact shared literals so both engines evaluate the
# identical polynomial (neither has a builtin normal CDF).
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _phi_sql(z: str) -> str:
    """Normal CDF Φ(z) as portable SQL over the A&S erf polynomial."""
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = (
        f"((((({_AS_A[4]} * {t} + ({_AS_A[3]})) * {t} + {_AS_A[2]}) * {t}"
        f" + ({_AS_A[1]})) * {t} + {_AS_A[0]}) * {t})"
    )
    erf = f"(1.0 - {poly} * exp(-({x} * {x})))"
    return (
        f"(CASE WHEN {z} >= 0 THEN 0.5 * (1.0 + {erf})"
        f" ELSE 0.5 * (1.0 - {erf}) END)"
    )


def _phi_col(z):
    """The same Φ as a Catalyst expression (identical literals)."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    a0, a1, a2, a3, a4 = _AS_A
    poly = (
        (((F.lit(a4) * t + F.lit(a3)) * t + F.lit(a2)) * t + F.lit(a1)) * t
        + F.lit(a0)
    ) * t
    erf = F.lit(1.0) - poly * F.exp(-(x * x))
    return F.when(z >= 0, F.lit(0.5) * (F.lit(1.0) + erf)).otherwise(
        F.lit(0.5) * (F.lit(1.0) - erf)
    )


@register(
    "q_stats_bayes_ab",
    oracle=f"""
    WITH m AS (
        SELECT event_type,
               count(*) AS n, avg(value) AS mu, var_samp(value) AS v
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ),
    w AS (
        SELECT
            max(CASE WHEN event_type = 'click' THEN n END) AS na,
            max(CASE WHEN event_type = 'click' THEN mu END) AS mua,
            max(CASE WHEN event_type = 'click' THEN v END) AS va,
            max(CASE WHEN event_type = 'purchase' THEN n END) AS nb,
            max(CASE WHEN event_type = 'purchase' THEN mu END) AS mub,
            max(CASE WHEN event_type = 'purchase' THEN v END) AS vb
        FROM m
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(mua + 1e-9, 4) AS mean_a,
           round(mub + 1e-9, 4) AS mean_b,
           round((mub - mua) / sqrt(va / na + vb / nb) + 1e-9, 4) AS z,
           round({_phi_sql("((mub - mua) / sqrt(va / na + vb / nb))")}
                 + 1e-9, 4) AS p_b_beats_a
    FROM w
    """,
)
def q_stats_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-B-beats-A readout for an A/B comparison (click vs
    purchase mean `value`): under the normal posterior approximation,
    P(μ_B > μ_A) = Φ(z) with the Welch z — the "chance to beat
    control" number product dashboards show instead of a p-value.

    Neither engine has a normal-CDF builtin, so Φ is the Abramowitz &
    Stegun 7.1.26 erf polynomial with EXACT shared literals — both
    engines run the identical arithmetic, so the 4-dp round + nudge is
    deterministic (approximation error 1.5e-7 ≪ rounding).

    Shape: one map-side-combined moment agg over the filtered types,
    pivoted to a single row; all Φ algebra is scalar on that row."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = m.agg(
        pick("click", "n").alias("na"),
        pick("click", "mu").alias("mua"),
        pick("click", "v").alias("va"),
        pick("purchase", "n").alias("nb"),
        pick("purchase", "mu").alias("mub"),
        pick("purchase", "v").alias("vb"),
    )
    z = (F.col("mub") - F.col("mua")) / F.sqrt(
        F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(F.col("mua") + F.lit(1e-9), 4).alias("mean_a"),
        F.round(F.col("mub") + F.lit(1e-9), 4).alias("mean_b"),
        F.round(z + F.lit(1e-9), 4).alias("z"),
        F.round(_phi_col(z) + F.lit(1e-9), 4).alias("p_b_beats_a"),
    )


@register(
    "q_stats_anova",
    oracle="""
    WITH m AS (
        SELECT event_type,
               count(*) AS n,
               sum(value) AS sx,
               sum(value * value) AS sxx
        FROM events
        GROUP BY event_type
    ),
    s AS (
        SELECT cast(count(*) AS BIGINT) AS k_groups,
               cast(sum(n) AS BIGINT) AS n_total,
               sum(sx) AS g,
               sum(sx * sx / n) AS ssb_raw,
               sum(sxx - sx * sx / n) AS ssw
        FROM m
    )
    SELECT k_groups, n_total,
           cast(k_groups - 1 AS BIGINT) AS df_between,
           cast(n_total - k_groups AS BIGINT) AS df_within,
           round(((ssb_raw - g * g / n_total) / (k_groups - 1))
                 / (ssw / (n_total - k_groups)) + 1e-9, 4) AS f_stat,
           round((ssb_raw - g * g / n_total)
                 / (ssb_raw - g * g / n_total + ssw) + 1e-9, 4) AS eta_sq
    FROM s
    """,
)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test: does mean `value` differ across ALL event
    types at once? — the parametric omnibus companion of
    q_stats_kruskal (which is its rank-based twin).  F = MSB/MSW with
    SSB = Σ(Sg²/ng) − G²/N and SSW = Σ(SSg − Sg²/ng), all from one
    raw-moment pass (n, Σx, Σx²) per group; η² = SSB/SST effect size.

    Determinism: the shared q_stats_* raw-moment policy — both engines
    derive every term from the same per-group (n, sx, sxx) aggregates,
    the F/η² algebra runs on the ≤|types|-row frame, 4-dp round with
    the +1e-9 nudge.  Scale: one map-side-combined agg over events →
    k rows → a 1-row reduce; nothing downstream of the scan depends on
    row count."""
    e = table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sx"),
        F.sum(F.col("value") * F.col("value")).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    s = m.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("sx").alias("g"),
        F.sum(sx * sx / n).alias("ssb_raw"),
        F.sum(sxx - sx * sx / n).alias("ssw"),
    )
    k = F.col("k_groups")
    nt = F.col("n_total")
    ssb = F.col("ssb_raw") - F.col("g") * F.col("g") / nt
    return s.select(
        "k_groups",
        "n_total",
        (k - 1).cast("bigint").alias("df_between"),
        (nt - k).cast("bigint").alias("df_within"),
        # try_divide: k = 1 group or nt = k (all singletons) leaves a
        # zero df — F and η² undefined, NULL not an ANSI crash (r6 audit)
        F.round(
            F.try_divide(
                F.try_divide(ssb, k - 1),
                F.try_divide(F.col("ssw"), nt - k),
            )
            + F.lit(1e-9),
            4,
        ).alias("f_stat"),
        F.round(
            F.try_divide(ssb, ssb + F.col("ssw")) + F.lit(1e-9), 4
        ).alias("eta_sq"),
    )


@register(
    "q_stats_levene",
    oracle="""
    WITH mg AS (
        SELECT event_type, round(sum(value) / count(*) + 1e-11, 6) AS mu
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type, abs(e.value - mg.mu) AS z
        FROM events e JOIN mg ON mg.event_type = e.event_type
    ),
    m AS (
        SELECT event_type, count(*) AS n, sum(z) AS sx, sum(z * z) AS sxx
        FROM z GROUP BY event_type
    ),
    s AS (
        SELECT cast(count(*) AS BIGINT) AS k_groups,
               cast(sum(n) AS BIGINT) AS n_total,
               sum(sx) AS g,
               sum(sx * sx / n) AS ssb_raw,
               sum(sxx - sx * sx / n) AS ssw
        FROM m
    )
    SELECT k_groups, n_total,
           cast(k_groups - 1 AS BIGINT) AS df_between,
           cast(n_total - k_groups AS BIGINT) AS df_within,
           round(((ssb_raw - g * g / n_total) / (k_groups - 1))
                 / (ssw / (n_total - k_groups)) + 1e-9, 4) AS w_stat
    FROM s
    """,
)
def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test for variance homogeneity across event types — the
    companion check to q_stats_anova (whose F assumes equal variances):
    W = the one-way-ANOVA F statistic applied to the absolute
    deviations z = |x − mean_g|.

    Determinism: the group means are re-rounded to 6 dp before
    centering (the shared inside-iteration policy), so both engines
    compute |x − mu| on identical decimals; downstream is the
    q_stats_anova raw-moment algebra on the k-row frame, 4-dp +1e-9.

    Scale: two passes over events — a k-row group-mean agg (map-side
    combined) broadcast back onto the scan, then the moment agg on z.
    Both shuffles carry k rows of partials per partition."""
    e = table(spark, sf_dir, "events")
    mg = e.groupBy("event_type").agg(
        F.round(F.sum("value") / F.count("*") + F.lit(1e-11), 6).alias("mu")
    )
    z = e.join(F.broadcast(mg), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("mu")).alias("z")
    )
    m = z.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("z").alias("sx"),
        F.sum(F.col("z") * F.col("z")).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    s = m.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("sx").alias("g"),
        F.sum(sx * sx / n).alias("ssb_raw"),
        F.sum(sxx - sx * sx / n).alias("ssw"),
    )
    k = F.col("k_groups")
    nt = F.col("n_total")
    ssb = F.col("ssb_raw") - F.col("g") * F.col("g") / nt
    return s.select(
        "k_groups",
        "n_total",
        (k - 1).cast("bigint").alias("df_between"),
        (nt - k).cast("bigint").alias("df_within"),
        # try_divide: k = 1 or nt = k leaves a zero df — W undefined,
        # NULL not an ANSI crash (round-6 degenerate audit)
        F.round(
            F.try_divide(
                F.try_divide(ssb, k - 1),
                F.try_divide(F.col("ssw"), nt - k),
            )
            + F.lit(1e-9),
            4,
        ).alias("w_stat"),
    )


# --- Poisson bootstrap ----------------------------------------------------

_BOOT_REPS = 32
# P(Poisson(1) <= k) cumulative thresholds for k = 0..4 — shared exact
# literals (the q_stats_bayes_ab constant policy): both engines bin the
# same uniform against the same decimals, so replicate weights are
# bit-identical cross-engine.
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.919698602928606",
    "0.9810118431238462",
    "0.9963401531726563",
)


@register(
    "q_stats_bootstrap",
    oracle=f"""
    WITH reps AS (
        SELECT e.event_id, e.value, g.rep,
               ((1103515245 * (e.event_id * {_BOOT_REPS} + g.rep) + 12345)
                % 2147483648) / 2147483648.0 AS u
        FROM events e
        CROSS JOIN (SELECT unnest(range(0, {_BOOT_REPS})) AS rep) g
    ),
    w AS (
        SELECT rep, value,
               CASE WHEN u < {_POIS_CDF[0]} THEN 0
                    WHEN u < {_POIS_CDF[1]} THEN 1
                    WHEN u < {_POIS_CDF[2]} THEN 2
                    WHEN u < {_POIS_CDF[3]} THEN 3
                    WHEN u < {_POIS_CDF[4]} THEN 4
                    ELSE 5 END AS w
        FROM reps
    ),
    rm AS (
        SELECT rep, round(sum(w * value) / sum(w) + 1e-11, 6) AS m
        FROM w GROUP BY rep
    ),
    b AS (
        SELECT count(*) AS nb, sum(m) AS sm, sum(m * m) AS smm FROM rm
    ),
    o AS (SELECT sum(value) / count(*) AS mu FROM events)
    SELECT cast(b.nb AS BIGINT) AS n_reps,
           round(o.mu + 1e-9, 4) AS mean_obs,
           round(b.sm / b.nb + 1e-9, 4) AS boot_mean,
           round(sqrt((b.smm - b.sm * b.sm / b.nb) / (b.nb - 1))
                 + 1e-9, 4) AS boot_se,
           round(o.mu - 1.96 * sqrt((b.smm - b.sm * b.sm / b.nb)
                 / (b.nb - 1)) + 1e-9, 4) AS ci_lo,
           round(o.mu + 1.96 * sqrt((b.smm - b.sm * b.sm / b.nb)
                 / (b.nb - 1)) + 1e-9, 4) AS ci_hi
    FROM b CROSS JOIN o
    """,
)
def q_stats_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean of `value` — THE distributed
    bootstrap: instead of resampling n rows with replacement (which
    needs global coordination), each row independently draws a
    Poisson(1) weight per replicate, giving each replicate the same
    distribution as a classical bootstrap resample as n → ∞.  B = 32
    replicates in ONE pass: explode each row into (row, rep) pairs,
    weight from a portable LCG uniform hashed on (event_id, rep)
    (exact BIGINT arithmetic — reproducible across engines, runs, AND
    partitionings, unlike rand(seed) which is partition-dependent),
    then one agg to B weighted means and a 1-row reduce to the
    bootstrap SE and normal-approximation CI.

    Determinism: the LCG and the Poisson inverse-CDF thresholds are
    exact shared literals, so weights are bit-identical cross-engine;
    replicate means re-round to 6 dp before the SE algebra (inside-
    iteration policy); 4-dp +1e-9 final round.

    Scale: the explode is a B× row amplification of a 2-column frame
    feeding a map-side-combined agg to B groups — at 100 TB you tune B
    against the scan width, never shuffle more than B partial rows per
    partition, and the CI costs one fact pass.  No row ever leaves its
    partition before aggregation."""
    e = table(spark, sf_dir, "events")
    reps = e.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("rep"),
    )
    u = (
        (
            F.lit(1103515245)
            * (F.col("event_id") * _BOOT_REPS + F.col("rep"))
            + 12345
        )
        % 2147483648
    ) / F.lit(2147483648.0)
    w = F.when(u < float(_POIS_CDF[0]), 0)
    for i, t in enumerate(_POIS_CDF[1:], start=1):
        w = w.when(u < float(t), i)
    w = w.otherwise(5)
    rm = (
        reps.select("rep", "value", w.alias("w"))
        .groupBy("rep")
        .agg(
            # try_divide: a replicate whose Poisson weights all drew 0
            # has an empty resample — mean undefined (NULL, r6 audit)
            F.round(
                F.try_divide(F.sum(F.col("w") * F.col("value")), F.sum("w"))
                + F.lit(1e-11),
                6,
            ).alias("m")
        )
    )
    b = rm.agg(
        F.count("*").alias("nb"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
    )
    o = e.agg((F.sum("value") / F.count("*")).alias("mu"))
    nb, sm, smm = F.col("nb"), F.col("sm"), F.col("smm")
    se = F.sqrt((smm - sm * sm / nb) / (nb - 1))
    return b.crossJoin(F.broadcast(o)).select(
        nb.cast("bigint").alias("n_reps"),
        F.round(F.col("mu") + F.lit(1e-9), 4).alias("mean_obs"),
        F.round(sm / nb + F.lit(1e-9), 4).alias("boot_mean"),
        F.round(se + F.lit(1e-9), 4).alias("boot_se"),
        F.round(F.col("mu") - 1.96 * se + F.lit(1e-9), 4).alias("ci_lo"),
        F.round(F.col("mu") + 1.96 * se + F.lit(1e-9), 4).alias("ci_hi"),
    )


@register(
    "q_stats_fdr",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
    ),
    m AS (
        SELECT event_type, count(*) AS n, sum(vc) AS sx,
               sum(CAST(vc AS HUGEINT) * CAST(vc AS HUGEINT)) AS sxx
        FROM c GROUP BY event_type
    ),
    g AS (
        SELECT CAST(sum(sx) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS mu,
               count(*) AS k
        FROM m
    ),
    zt AS (
        SELECT m.event_type, g.k,
               round((CAST(sx AS DOUBLE) / n - g.mu)
                     / sqrt(((CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                             / (n - 1)) / n)
                     + 1e-11, 6) AS z
        FROM m CROSS JOIN g
    ),
    p AS (
        SELECT event_type, k, z,
               2 * (1 - {_phi_sql("abs(z)")}) AS pv,
               row_number() OVER (ORDER BY 2 * (1 - {_phi_sql("abs(z)")}),
                                  event_type) AS rnk
        FROM zt
    ),
    adj AS (
        SELECT event_type, z, pv,
               least(min(pv * k / rnk) OVER (
                   ORDER BY rnk
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ), 1.0) AS padj
        FROM p
    )
    SELECT event_type, round(z + 1e-9, 4) + 0.0 AS z,
           round(pv + 1e-9, 4) + 0.0 AS p_value,
           round(padj + 1e-9, 4) + 0.0 AS p_adj,
           CAST(padj < 0.05 AS BOOLEAN) AS reject
    FROM adj
    """,
)
def q_stats_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over the per-type mean tests:
    each event type gets a one-sample z vs the global mean, then the
    k p-values are BH-adjusted (p_adj(i) = min_{j≥i} p(j)·k/j, capped
    at 1) — the multiple-testing guard an experimentation platform
    applies before declaring any segment significant.

    Determinism: the moments are EXACT integer cents (per-row
    round(value·100) → integer Σ and Σx², order-independent at any
    partitioning — the q_ts_anomaly recipe; raw double sums flaked the
    r6 driver gate by a last-ulp z wobble). The scale factor cancels
    in the z ratio, so z is computed directly in cents units from
    bit-identical integers, then re-rounds to 6 dp before Φ (both
    engines feed the A&S polynomial identical decimals → identical
    p-values → identical BH ranks, tie-broken by event_type); the rank
    and the reversed running min run on the k-row frame only.

    Scale: one raw-moment fact agg → k rows; every window is over the
    bounded type frame. Σx² accumulates in decimal(38,0) so the
    integer moments stay exact past long range at 100 TB row counts."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).try_cast("long")
    cd = cents.cast("decimal(18,0)")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cd * cd).alias("sxx"),
    )
    g = m.agg(
        (F.sum("sx").cast("double") / F.sum("n").cast("double")).alias(
            "mu"
        ),
        F.count("*").alias("k"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    zt = m.crossJoin(F.broadcast(g)).select(
        "event_type",
        "k",
        # try_divide: singleton groups have no sample variance — z
        # undefined, NULL not an ANSI crash (round-6 degenerate audit)
        F.round(
            F.try_divide(
                sx / n - F.col("mu"),
                F.sqrt(F.try_divide(sxx - sx * sx / n, n - 1) / n),
            )
            + F.lit(1e-11),
            6,
        ).alias("z"),
    )
    pv = 2 * (1 - _phi_col(F.abs(F.col("z"))))
    p = zt.select("event_type", "k", "z", pv.alias("pv")).withColumn(
        "rnk", F.row_number().over(Window.orderBy("pv", "event_type"))
    )
    w_rev = Window.orderBy("rnk").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    adj = p.withColumn(
        "padj",
        F.least(
            F.min(F.col("pv") * F.col("k") / F.col("rnk")).over(w_rev),
            F.lit(1.0),
        ),
    )
    # `+ 0.0` on BOTH engines: IEEE −0.0 + 0.0 = +0.0.  The 'error'
    # type's z rounds to −0.000001 at the 6-dp stage, so the 4-dp
    # re-round lands on negative zero; Spark's unsafe-row path folds it
    # to +0.0 but DuckDB preserves it, and the driver hasher is signed-
    # zero-strict — the deterministic r6/r7 hash red (VERDICT r7 #1).
    return adj.select(
        "event_type",
        (F.round(F.col("z") + F.lit(1e-9), 4) + F.lit(0.0)).alias("z"),
        (F.round(F.col("pv") + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "p_value"
        ),
        (F.round(F.col("padj") + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "p_adj"
        ),
        (F.col("padj") < 0.05).alias("reject"),
    )


@register(
    "q_stats_tost",
    oracle=f"""
    WITH m AS (
        SELECT event_type, count(*) AS n, sum(value) AS sx,
               sum(value * value) AS sxx
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY event_type
    ),
    s AS (
        SELECT event_type, n, sx / n AS mean,
               (sxx - sx * sx / n) / (n - 1) AS var
        FROM m
    ),
    w AS (
        SELECT a.n AS na, b.n AS nb, a.mean AS ma, b.mean AS mb,
               0.1 * abs((a.mean + b.mean) / 2) AS delta,
               sqrt(a.var / a.n + b.var / b.n) AS se
        FROM (SELECT * FROM s WHERE event_type = 'click') a
        CROSS JOIN (SELECT * FROM s WHERE event_type = 'view') b
    ),
    z AS (
        SELECT na, nb, ma, mb, delta,
               round((ma - mb + delta) / se + 1e-11, 6) AS z_low,
               round((ma - mb - delta) / se + 1e-11, 6) AS z_high
        FROM w
    )
    SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_view,
           round(ma - mb + 1e-9, 4) AS diff,
           round(delta + 1e-9, 4) AS margin,
           round(z_low + 1e-9, 4) AS z_low,
           round(z_high + 1e-9, 4) AS z_high,
           round(greatest(1 - {_phi_sql("z_low")}, {_phi_sql("z_high")})
                 + 1e-9, 4) AS p_tost,
           CAST(greatest(1 - {_phi_sql("z_low")}, {_phi_sql("z_high")})
                < 0.05 AS BOOLEAN) AS equivalent
    FROM z
    """,
)
def q_stats_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests): are click and view
    mean values equivalent within a ±10%-of-grand-mean margin? — the
    inverse question of q_stats_ttest (failing to reject H0 is NOT
    evidence of equivalence; TOST is).  p = max(P(diff ≤ −δ rejected),
    P(diff ≥ +δ rejected)) via the shared Φ polynomial.

    Determinism: the q_stats_ttest raw-moment route to means/variances,
    z statistics re-rounded 6-dp before Φ; all algebra on the 1-row
    cross of the two group summaries."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # SQL-text expressions (r13, guide §4): identical operator tree
    # (every decimal literal combines with a double operand, so Spark
    # promotes the whole algebra to double exactly like the Column
    # form), ~⅓ the Py4J round-trips per build.  Φ reuses the oracle's
    # _phi_sql text — identical literals on both engines by
    # construction.
    m = e.groupBy("event_type").agg(
        F.expr("count(*) AS n"),
        F.expr("sum(value) AS sx"),
        F.expr("sum(value * value) AS sxx"),
    )
    s = m.selectExpr(
        "event_type",
        "n",
        "sx / n AS mean",
        "(sxx - sx * sx / n) / (n - 1) AS var",
    ).localCheckpoint(eager=False)
    a = s.filter("event_type = 'click'").selectExpr(
        "n AS na", "mean AS ma", "var AS va"
    )
    b = s.filter("event_type = 'view'").selectExpr(
        "n AS nb", "mean AS mb", "var AS vb"
    )
    w = a.crossJoin(b).selectExpr(
        "na", "nb", "ma", "mb",
        "0.1D * abs((ma + mb) / 2) AS delta",
        "sqrt(va / na + vb / nb) AS se",
    )
    z = w.selectExpr(
        "na", "nb", "ma", "mb", "delta",
        "round((ma - mb + delta) / se + 1e-11, 6) AS z_low",
        "round((ma - mb - delta) / se + 1e-11, 6) AS z_high",
    )
    p_tost = (
        f"greatest(1 - {_phi_sql('z_low')}, {_phi_sql('z_high')})"
    )
    return z.selectExpr(
        "CAST(na AS BIGINT) AS n_click",
        "CAST(nb AS BIGINT) AS n_view",
        "round(ma - mb + 1e-9, 4) AS diff",
        "round(delta + 1e-9, 4) AS margin",
        "round(z_low + 1e-9, 4) AS z_low",
        "round(z_high + 1e-9, 4) AS z_high",
        f"round({p_tost} + 1e-9, 4) AS p_tost",
        f"{p_tost} < 0.05D AS equivalent",
    )


@register(
    "q_stats_jarque_bera",
    oracle="""
    WITH m AS (
        SELECT event_type, count(*) AS n,
               sum(value) AS s1, sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4
        FROM events GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n,
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                   + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM m
    ),
    j AS (
        SELECT event_type, n,
               m3 / power(m2, 1.5) AS skew,
               m4 / (m2 * m2) - 3 AS ex_kurt,
               n / 6.0 * (power(m3 / power(m2, 1.5), 2)
                          + power(m4 / (m2 * m2) - 3, 2) / 4) AS jb
        FROM c
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(skew + 1e-9, 4) AS skewness,
           round(ex_kurt + 1e-9, 4) AS ex_kurtosis,
           round(jb + 1e-9, 4) AS jb_stat,
           round(exp(-jb / 2) + 1e-9, 4) AS p_value,
           CAST(exp(-jb / 2) >= 0.05 AS BOOLEAN) AS looks_normal
    FROM j
    """,
)
def q_stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: JB =
    n/6·(S² + K²/4) from sample skewness S and excess kurtosis K —
    the gate check before any of the suite's normal-theory tests
    (t/TOST/CUPED) is trusted.  The χ²(2) survival function is EXACTLY
    exp(−JB/2) (df=2 chi-square is the exponential distribution), so
    the p-value needs no incomplete-gamma approximation — identical
    closed form both engines.

    One raw-moment pass (n, Σx…Σx⁴) per group — map-side combined, the
    central-moment/JB algebra on the k-row frame, 4-dp +1e-9 rounds."""
    e = table(spark, sf_dir, "events")
    v = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n")
    a1, a2, a3, a4 = (F.col(f"s{i}") / n for i in range(1, 5))
    m2 = a2 - a1 * a1
    m3 = a3 - 3 * a1 * a2 + 2 * a1 * a1 * a1
    m4 = a4 - 4 * a1 * a3 + 6 * a1 * a1 * a2 - 3 * a1 * a1 * a1 * a1
    # try_divide: zero-variance groups → moments undefined (r6 audit)
    skew = F.try_divide(m3, F.pow(m2, 1.5))
    ex_kurt = F.try_divide(m4, m2 * m2) - 3
    jb = n / 6.0 * (F.pow(skew, 2) + F.pow(ex_kurt, 2) / 4)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(skew + F.lit(1e-9), 4).alias("skewness"),
        F.round(ex_kurt + F.lit(1e-9), 4).alias("ex_kurtosis"),
        F.round(jb + F.lit(1e-9), 4).alias("jb_stat"),
        F.round(F.exp(-jb / 2) + F.lit(1e-9), 4).alias("p_value"),
        (F.exp(-jb / 2) >= 0.05).alias("looks_normal"),
    )


@register(
    "q_stats_beta_binomial",
    oracle="""
    WITH g AS (
        SELECT c_mktsegment AS segment, count(*) AS n,
               sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS x
        FROM customer GROUP BY c_mktsegment
    ),
    p AS (
        SELECT segment, n, x,
               (x + 2.0) / (n + 4.0) AS pm,
               sqrt((x + 2.0) * (n - x + 2.0)
                    / ((n + 4.0) * (n + 4.0) * (n + 5.0))) AS psd
        FROM g
    )
    SELECT segment, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
           round(x * 1e0 / n + 1e-9, 4) AS mle,
           round(pm + 1e-9, 4) AS post_mean,
           round(psd + 1e-9, 4) AS post_sd,
           round(pm - 1.96 * psd + 1e-9, 4) AS ci_lo,
           round(pm + 1.96 * psd + 1e-9, 4) AS ci_hi
    FROM p
    """,
)
def q_stats_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial proportion estimation per market segment
    (high-balance-customer rate under a Beta(2,2) prior): exact
    closed-form posterior mean (x+α)/(n+α+β) and variance, with a
    normal-approximation 95% credible interval — the shrinkage
    estimator that keeps small segments from reporting 0% or 100%
    rates (the empirical-Bayes cure for small-sample league tables).

    All algebra is exact integer counts through closed forms — no
    sampling, no incomplete beta — identical cross-engine; one
    map-side-combined agg to k segments."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)).alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    pm = (x + 2.0) / (n + 4.0)
    psd = F.sqrt(
        (x + 2.0) * (n - x + 2.0) / ((n + 4.0) * (n + 4.0) * (n + 5.0))
    )
    return g.select(
        "segment",
        n.cast("bigint").alias("n"),
        x.cast("bigint").alias("x"),
        F.round(x * 1.0 / n + F.lit(1e-9), 4).alias("mle"),
        F.round(pm + F.lit(1e-9), 4).alias("post_mean"),
        F.round(psd + F.lit(1e-9), 4).alias("post_sd"),
        F.round(pm - 1.96 * psd + F.lit(1e-9), 4).alias("ci_lo"),
        F.round(pm + 1.96 * psd + F.lit(1e-9), 4).alias("ci_hi"),
    )


@register(
    "q_stats_poisson_rate",
    oracle=f"""
    WITH es AS (
        SELECT floor(epoch(ts::TIMESTAMP))::BIGINT AS s
        FROM events WHERE event_type = 'error'
    ),
    halves AS (
        SELECT CASE WHEN s < (SELECT (min(s) + max(s)) / 2.0 FROM es)
                    THEN 'first' ELSE 'second' END AS half,
               count(*) AS x
        FROM es GROUP BY 1
    ),
    w AS (
        SELECT max(CASE WHEN half = 'first' THEN x END) AS x1,
               max(CASE WHEN half = 'second' THEN x END) AS x2
        FROM halves
    ),
    z AS (
        SELECT x1, x2,
               round(ln(x2 * 1e0 / x1) / sqrt(1e0 / x1 + 1e0 / x2)
                     + 1e-11, 6) AS zst
        FROM w
    )
    SELECT CAST(x1 AS BIGINT) AS n_first, CAST(x2 AS BIGINT) AS n_second,
           round(x2 * 1e0 / x1 + 1e-9, 4) AS rate_ratio,
           round(zst + 1e-9, 4) AS z,
           round(2 * (1 - {_phi_sql("abs(zst)")}) + 1e-9, 4) AS p_value,
           CAST(2 * (1 - {_phi_sql("abs(zst)")}) < 0.05 AS BOOLEAN)
               AS rate_changed
    FROM z
    """,
)
def q_stats_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-change test on error events (first half vs second
    half of the observation window): log-rate-ratio z test — the
    count-data significance test (is the error RATE actually up, or is
    the count difference noise?) that complements q_ts_burst's
    pointwise detection with a two-period inference.

    Determinism: equal-length halves by construction (midpoint split),
    so the rate ratio is a pure count ratio; z re-rounds 6-dp before
    the shared Φ polynomial.  One conditional-count agg + 1-row
    algebra."""
    es = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(F.unix_timestamp("ts").alias("s"))
    )
    es = es.localCheckpoint(eager=False)
    bounds = es.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    half = es.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.col("s") < (F.col("lo") + F.col("hi")) / 2.0, "first"
        )
        .otherwise("second")
        .alias("half")
    )
    w = half.agg(
        F.sum(F.when(F.col("half") == "first", 1).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("half") == "second", 1).otherwise(0)).alias("x2"),
    )
    x1, x2 = F.col("x1"), F.col("x2")
    # try_divide: an empty half-window (x1 or x2 = 0) leaves the rate
    # ratio undefined — NULL, not an ANSI crash (round-6 audit)
    zst = F.round(
        F.try_divide(
            F.log(F.try_divide(x2 * 1.0, x1)),
            F.sqrt(F.try_divide(F.lit(1.0), x1) + F.try_divide(F.lit(1.0), x2)),
        )
        + F.lit(1e-11),
        6,
    )
    p = 2 * (1 - _phi_col(F.abs(zst)))
    return w.select(
        x1.cast("bigint").alias("n_first"),
        x2.cast("bigint").alias("n_second"),
        F.round(F.try_divide(x2 * 1.0, x1) + F.lit(1e-9), 4).alias(
            "rate_ratio"
        ),
        F.round(zst + F.lit(1e-9), 4).alias("z"),
        F.round(p + F.lit(1e-9), 4).alias("p_value"),
        (p < 0.05).alias("rate_changed"),
    )


_HILL_K = 100


@register(
    "q_stats_hill",
    oracle=f"""
    WITH topk AS (
        SELECT o_totalprice AS x,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                   AS rk
        FROM orders
        QUALIFY row_number() OVER (
            ORDER BY o_totalprice DESC, o_orderkey) <= {_HILL_K}
    ),
    xk AS (SELECT x AS xmin FROM topk WHERE rk = {_HILL_K}),
    h AS (
        SELECT count(*) - 1 AS k,
               sum(CASE WHEN topk.rk < {_HILL_K}
                        THEN ln(topk.x / xk.xmin) ELSE 0 END) AS s
        FROM topk CROSS JOIN xk
    )
    SELECT CAST(k AS BIGINT) AS k,
           round((SELECT xmin FROM xk), 2) AS x_k,
           round(k / s + 1e-9, 4) AS hill_alpha,
           round(k / s / sqrt(k) + 1e-9, 4) AS alpha_se
    FROM h
    """,
)
def q_stats_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator on order totals: α̂ = k / Σln(x_i/x_k)
    over the top-k order statistics — the power-law heaviness gauge
    (α < 2 means infinite variance: percentile SLAs and mean-based
    capacity planning are lies) that quantifies what q_agg_pareto's
    80/20 curve shows and q_text_zipf assumes.  SE = α̂/√k.

    Shape: the only corpus-wide work is the top-k selection
    (TakeOrderedAndProject — no global sort); the log-ratio fold runs
    on the k-row frame.  Determinism: identical top-k membership via
    the (value, key) total order; log ratios of identical doubles."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    topk = (
        o.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(_HILL_K)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
            ),
        )
    )
    xk = topk.filter(F.col("rk") == _HILL_K).select(
        F.col("o_totalprice").alias("xmin")
    )
    h = topk.crossJoin(F.broadcast(xk)).agg(
        (F.count("*") - 1).alias("k"),
        F.sum(
            F.when(
                F.col("rk") < _HILL_K,
                F.log(F.col("o_totalprice") / F.col("xmin")),
            ).otherwise(0.0)
        ).alias("s"),
        F.first("xmin").alias("xmin"),
    )
    k, s = F.col("k"), F.col("s")
    return h.select(
        k.cast("bigint").alias("k"),
        F.round(F.col("xmin"), 2).alias("x_k"),
        F.round(k / s + F.lit(1e-9), 4).alias("hill_alpha"),
        F.round(k / s / F.sqrt(k) + F.lit(1e-9), 4).alias("alpha_se"),
    )


# Euler-Mascheroni constant as a shared exact literal (Gumbel MoM).
_EULER_GAMMA = "0.5772156649015329"


@register(
    "q_stats_gumbel",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts::TIMESTAMP) AS day,
               max(cast(round(value * 100) AS BIGINT)) AS mx
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT count(*) AS n, avg(mx) AS mu_m,
               sqrt((sum(mx * mx) - sum(mx) * sum(mx) * 1.0 / count(*))
                    / (count(*) - 1)) AS sd
        FROM daily
    ),
    fit AS (
        SELECT n,
               sd * sqrt(6.0) / pi() AS beta,
               mu_m - {_EULER_GAMMA} * sd * sqrt(6.0) / pi() AS mu
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(mu / 100 + 1e-9, 4) AS gumbel_mu,
           round(beta / 100 + 1e-9, 4) AS gumbel_beta,
           round((mu - beta * ln(-ln(1 - 1.0 / 30))) / 100 + 1e-9, 4)
               AS return_level_30d,
           round((mu - beta * ln(-ln(1 - 1.0 / 365))) / 100 + 1e-9, 4)
               AS return_level_365d
    FROM fit
    """,
)
def q_stats_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value return levels via a Gumbel method-of-moments fit
    on daily block maxima of `value`: β = s·√6/π, μ = x̄ − γβ (Euler-
    Mascheroni as a shared exact literal), then the T-day return level
    μ − β·ln(−ln(1−1/T)) — the 'what's the worst single event we
    should expect in a month / a year' capacity question that
    percentiles of the full distribution systematically understate.

    Shape: one map-side max per day → moments on the bounded day frame
    → closed-form algebra.  Exact-cents maxima; sample sd via raw
    moments (the shared q_stats_* policy)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.max(F.round(F.col("value") * 100).try_cast("long")).alias("mx")
    )
    m = daily.agg(
        F.count("*").alias("n"),
        F.avg("mx").alias("mu_m"),
        # try_divide: a 1-day window has no sample variance — the
        # Gumbel fit is undefined, NULL not an ANSI crash (r6 audit)
        F.sqrt(
            F.try_divide(
                F.sum(F.col("mx") * F.col("mx"))
                - F.sum("mx") * F.sum("mx") * 1.0 / F.count("*"),
                F.count("*") - 1,
            )
        ).alias("sd"),
    )
    beta = F.col("sd") * math.sqrt(6.0) / math.pi
    mu = F.col("mu_m") - F.lit(float(_EULER_GAMMA)) * beta
    rl = lambda t: (mu - beta * math.log(-math.log(1 - 1.0 / t))) / 100

    return m.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(mu / 100 + F.lit(1e-9), 4).alias("gumbel_mu"),
        F.round(beta / 100 + F.lit(1e-9), 4).alias("gumbel_beta"),
        F.round(rl(30) + F.lit(1e-9), 4).alias("return_level_30d"),
        F.round(rl(365) + F.lit(1e-9), 4).alias("return_level_365d"),
    )


@register(
    "q_stats_median_ci",
    oracle="""
    WITH vals AS (
        SELECT value AS v, count(*) AS c FROM events GROUP BY value
    ),
    cum AS (
        SELECT v, c,
               sum(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cm,
               sum(c) OVER () AS n
        FROM vals
    ),
    ranks AS (
        SELECT n,
               CAST(floor((n + 1) / 2.0) AS BIGINT) AS r_med,
               CAST(floor(n / 2.0 - 1.96 * sqrt(n) / 2) AS BIGINT) AS r_lo,
               CAST(ceil(1 + n / 2.0 + 1.96 * sqrt(n) / 2) AS BIGINT) AS r_hi
        FROM (SELECT max(n) AS n FROM cum)
    )
    SELECT CAST(r.n AS BIGINT) AS n,
           round(min(CASE WHEN cm >= r_med THEN v END) + 1e-9, 4)
               AS median,
           round(min(CASE WHEN cm >= r_lo THEN v END) + 1e-9, 4) AS ci_lo,
           round(min(CASE WHEN cm >= r_hi THEN v END) + 1e-9, 4) AS ci_hi
    FROM cum CROSS JOIN ranks r
    GROUP BY r.n
    """,
)
def q_stats_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free confidence interval for the median via order
    statistics (the binomial/normal-approximation rank bracket
    n/2 ± 1.96·√n/2): unlike a bootstrap, the CI is exact order-stat
    selection — the robust-location companion to q_stats_bootstrap's
    mean CI.

    Scale shape: order statistics come from the DISTINCT-VALUE
    cumulative-count frame (the q_stats_mannwhitney machinery), never
    a global row sort — the rank→value lookup is min(value where
    cum ≥ r) on the bounded distinct frame; the two-pass bucket-offset
    recipe applies if the value domain outgrows a task."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    vals = e.groupBy(F.col("value").alias("v")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "v",
        F.sum("c").over(w).alias("cm"),
        F.sum("c").over(wall).alias("n"),
    )
    n = F.col("n")
    ranks = (
        cum.agg(F.max("n").alias("nn"))
        .select(
            "nn",
            F.floor((F.col("nn") + 1) / 2.0).cast("long").alias("r_med"),
            F.floor(F.col("nn") / 2.0 - 1.96 * F.sqrt(F.col("nn")) / 2)
            .cast("long")
            .alias("r_lo"),
            F.ceil(1 + F.col("nn") / 2.0 + 1.96 * F.sqrt(F.col("nn")) / 2)
            .cast("long")
            .alias("r_hi"),
        )
    )
    pick = lambda r: F.min(
        F.when(F.col("cm") >= F.col(r), F.col("v"))
    )
    return (
        cum.drop("n")
        .crossJoin(F.broadcast(ranks))
        .groupBy(F.col("nn").cast("bigint").alias("n"))
        .agg(
            F.round(pick("r_med") + F.lit(1e-9), 4).alias("median"),
            F.round(pick("r_lo") + F.lit(1e-9), 4).alias("ci_lo"),
            F.round(pick("r_hi") + F.lit(1e-9), 4).alias("ci_hi"),
        )
    )


@register(
    "q_stats_runs",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts::TIMESTAMP) AS day,
               sum(cast(round(value * 100) AS BIGINT)) AS vc
        FROM events GROUP BY 1
    ),
    moves AS (
        SELECT day,
               CASE WHEN vc > lag(vc) OVER (ORDER BY day) THEN 1
                    ELSE 0 END AS up,
               lag(vc) OVER (ORDER BY day) AS prev
        FROM daily
    ),
    seq AS (
        SELECT up,
               lag(up) OVER (ORDER BY day) AS p_up
        FROM (SELECT day, up FROM moves WHERE prev IS NOT NULL)
    ),
    c AS (
        SELECT count(*) AS n,
               sum(up) AS n1,
               count(*) - sum(up) AS n2,
               sum(CASE WHEN p_up IS NULL OR up <> p_up
                        THEN 1 ELSE 0 END) AS runs
        FROM seq
    ),
    z AS (
        SELECT n, n1, n2, runs,
               2.0 * n1 * n2 / n + 1 AS mu,
               sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                    / (n * n * (n - 1.0))) AS sd
        FROM c
    ),
    zz AS (
        SELECT n, n1, n2, runs,
               round((runs - mu) / sd + 1e-11, 6) AS zst
        FROM z
    )
    SELECT CAST(n AS BIGINT) AS n_moves,
           CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
           CAST(runs AS BIGINT) AS n_runs,
           round(zst + 1e-9, 4) AS z,
           round(2 * (1 - {_phi_sql("abs(zst)")}) + 1e-9, 4) AS p_value,
           CAST(2 * (1 - {_phi_sql("abs(zst)")}) < 0.05 AS BOOLEAN)
               AS non_random
    FROM zz
    """,
)
def q_stats_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily volume's up/down move
    sequence: too FEW runs = trending (momentum), too MANY =
    mean-reverting oscillation — the randomness check that validates
    whether q_ts_trend / q_ts_sma_cross signals are even meaningful on
    this series.  z = (R − μ_R)/σ_R with the exact run-count moments.

    Determinism: moves derive from exact-cents daily sums (ties count
    as down — a fixed convention both engines share); run counting is
    a lag-compare flag sum; z re-rounds 6-dp before the shared Φ.
    All windows on the bounded day frame."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).try_cast("long")).alias("vc")
    )
    w = Window.orderBy("day")
    moves = daily.select(
        "day",
        F.when(F.col("vc") > F.lag("vc").over(w), 1)
        .otherwise(0)
        .alias("up"),
        F.lag("vc").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    seq = moves.select(
        "up", F.lag("up").over(Window.orderBy("day")).alias("p_up")
    )
    c = seq.agg(
        F.count("*").alias("n"),
        F.sum("up").alias("n1"),
        (F.count("*") - F.sum("up")).alias("n2"),
        F.sum(
            F.when(
                F.col("p_up").isNull() | (F.col("up") != F.col("p_up")), 1
            ).otherwise(0)
        ).alias("runs"),
    )
    n, n1, n2, runs = (F.col(x) for x in ("n", "n1", "n2", "runs"))
    mu = 2.0 * n1 * n2 / n + 1
    sd = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    zst = F.round((runs - mu) / sd + F.lit(1e-11), 6)
    p = 2 * (1 - _phi_col(F.abs(zst)))
    return c.select(
        n.cast("bigint").alias("n_moves"),
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        runs.cast("bigint").alias("n_runs"),
        F.round(zst + F.lit(1e-9), 4).alias("z"),
        F.round(p + F.lit(1e-9), 4).alias("p_value"),
        (p < 0.05).alias("non_random"),
    )


@register(
    "q_stats_mcnemar",
    oracle=f"""
    WITH s AS (
        SELECT (label % 2 = 1) AS truth,
               round(1e0 / (1e0 + exp(-(
                   2e0 * embedding[1]::DOUBLE
                   + 15e-1 * embedding[2]::DOUBLE
                   + embedding[3]::DOUBLE - 1e-1))) + 1e-9, 4) >= 5e-1
                   AS pred_a,
               round(1e0 / (1e0 + exp(-(
                   2e0 * embedding[1]::DOUBLE - 1e-1))) + 1e-9, 4)
                   >= 5e-1 AS pred_b
        FROM embeddings
    ),
    d AS (
        SELECT sum(CASE WHEN (pred_a = truth) AND (pred_b <> truth)
                        THEN 1 ELSE 0 END) AS b,
               sum(CASE WHEN (pred_a <> truth) AND (pred_b = truth)
                        THEN 1 ELSE 0 END) AS c,
               count(*) AS n
        FROM s
    ),
    z AS (
        SELECT n, b, c,
               round((b - c) / sqrt(b + c + 0.0) + 1e-11, 6) AS zst
        FROM d
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(b AS BIGINT) AS only_a_right,
           CAST(c AS BIGINT) AS only_b_right,
           round(zst * zst + 1e-9, 4) AS chi2,
           round(2 * (1 - {_phi_sql("abs(zst)")}) + 1e-9, 4) AS p_value,
           CAST(2 * (1 - {_phi_sql("abs(zst)")}) < 0.05 AS BOOLEAN)
               AS models_differ
    FROM z
    """,
)
def q_stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two classifiers on the SAME
    items: the full 3-feature logistic scorer (the q_ml_* eval model)
    vs a 1-feature ablation — only the DISCORDANT pairs matter (items
    exactly one model gets right), χ² = (b−c)²/(b+c).  This is the
    correct test for 'is model A actually better?' on a shared eval
    set, where the two-sample tests (q_stats_ttest/q_stats_proportion)
    are wrong because the samples aren't independent.

    One scan computes truth + both predictions (fused scan-side
    sigmoids, exact 4-dp scores), one conditional-count agg, 1-row
    algebra with z 6-dp before the shared Φ."""
    emb = table(spark, sf_dir, "embeddings")
    za = (
        F.lit(2.0) * F.col("embedding")[0].cast("double")
        + F.lit(1.5) * F.col("embedding")[1].cast("double")
        + F.col("embedding")[2].cast("double")
        - F.lit(0.1)
    )
    zb = F.lit(2.0) * F.col("embedding")[0].cast("double") - F.lit(0.1)
    sig = lambda z: F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) + F.lit(1e-9), 4
    )
    s = emb.select(
        (F.col("label") % 2 == 1).alias("truth"),
        (sig(za) >= 0.5).alias("pred_a"),
        (sig(zb) >= 0.5).alias("pred_b"),
    )
    d = s.agg(
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("truth"))
                & (F.col("pred_b") != F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("truth"))
                & (F.col("pred_b") == F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("c"),
        F.count("*").alias("n"),
    )
    b, c = F.col("b"), F.col("c")
    # try_divide: no discordant pairs (b + c = 0) → test undefined
    zst = F.round(
        F.try_divide(b - c, F.sqrt((b + c).cast("double"))) + F.lit(1e-11),
        6,
    )
    p = 2 * (1 - _phi_col(F.abs(zst)))
    return d.select(
        F.col("n").cast("bigint").alias("n"),
        b.cast("bigint").alias("only_a_right"),
        c.cast("bigint").alias("only_b_right"),
        F.round(zst * zst + F.lit(1e-9), 4).alias("chi2"),
        F.round(p + F.lit(1e-9), 4).alias("p_value"),
        (p < 0.05).alias("models_differ"),
    )


@register(
    "q_stats_bimodality",
    oracle="""
    WITH m AS (
        SELECT event_type, count(*) AS n,
               sum(value) AS s1, sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4
        FROM events GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                   + 2 * pow(s1 / n, 3) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * pow(s1 / n, 2) * (s2 / n)
                   - 3 * pow(s1 / n, 4) AS m4
        FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(m3 / pow(m2, 1.5) + 1e-9, 4) AS skewness,
           round(m4 / (m2 * m2) + 1e-9, 4) AS kurtosis,
           round((pow(m3 / pow(m2, 1.5), 2) + 1)
                 / (m4 / (m2 * m2)
                    + 3.0 * (n - 1) * (n - 1) / ((n - 2) * (n - 3)))
                 + 1e-9, 4) AS bimodality_coef,
           CAST((pow(m3 / pow(m2, 1.5), 2) + 1)
                / (m4 / (m2 * m2)
                   + 3.0 * (n - 1) * (n - 1) / ((n - 2) * (n - 3)))
                > 0.555 AS BOOLEAN) AS likely_bimodal
    FROM c
    """,
)
def q_stats_bimodality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sarle's bimodality coefficient per event type:
    BC = (γ² + 1) / (κ + 3(n−1)²/((n−2)(n−3))) — above the uniform-
    distribution benchmark 5/9 ≈ 0.555 suggests two modes (a mixed
    population behind one metric: two user cohorts, two price
    regimes), the cheap moment-based screen before anyone fits a
    mixture model.  Uniform data sits AT 5/9; heavy right skew with
    high kurtosis (the fixture's value column) drives BC down.

    One raw-moment pass (Σx…Σx⁴, map-side combined) → k-row algebra;
    the q_stats_jarque_bera machinery with the kurtosis used raw
    (not excess)."""
    e = table(spark, sf_dir, "events")
    v = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n")
    a1, a2, a3, a4 = (F.col(f"s{i}") / n for i in range(1, 5))
    m2 = a2 - a1 * a1
    m3 = a3 - 3 * a1 * a2 + 2 * F.pow(a1, 3)
    m4 = a4 - 4 * a1 * a3 + 6 * F.pow(a1, 2) * a2 - 3 * F.pow(a1, 4)
    # try_divide: zero-variance or n ≤ 3 groups leave the moments /
    # small-sample correction undefined — NULL, not an ANSI crash
    skew = F.try_divide(m3, F.pow(m2, 1.5))
    kurt = F.try_divide(m4, m2 * m2)
    bc = F.try_divide(
        F.pow(skew, 2) + 1,
        kurt + F.try_divide(3.0 * (n - 1) * (n - 1), (n - 2) * (n - 3)),
    )
    return m.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(skew + F.lit(1e-9), 4).alias("skewness"),
        F.round(kurt + F.lit(1e-9), 4).alias("kurtosis"),
        F.round(bc + F.lit(1e-9), 4).alias("bimodality_coef"),
        (bc > 0.555).alias("likely_bimodal"),
    )


@register(
    "q_stats_cohens_d",
    oracle="""
    WITH m AS (
        SELECT event_type, count(*) AS n,
               sum(value) AS sx, sum(value * value) AS sxx
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type
    ),
    s AS (
        SELECT event_type, n, sx / n AS mean,
               (sxx - sx * sx / n) / (n - 1) AS var
        FROM m
    ),
    d AS (
        SELECT a.n AS na, b.n AS nb, a.mean AS ma, b.mean AS mb,
               round((a.mean - b.mean)
                     / sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var)
                            / (a.n + b.n - 2)) + 1e-11, 6) AS d6
        FROM (SELECT * FROM s WHERE event_type = 'click') a
        CROSS JOIN (SELECT * FROM s WHERE event_type = 'view') b
    ),
    f AS (
        SELECT na, nb, d6,
               d6 * (1 - 3e0 / (4 * (na + nb) - 9)) AS g,
               sqrt((na + nb) / (CAST(na AS DOUBLE) * nb)
                    + d6 * d6 / (2e0 * (na + nb))) AS se
        FROM d
    )
    SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_view,
           round(d6 + 1e-9, 4) AS cohens_d,
           round(g + 1e-9, 4) AS hedges_g,
           round(d6 - 196e-2 * se + 1e-9, 4) AS ci_lo,
           round(d6 + 196e-2 * se + 1e-9, 4) AS ci_hi,
           CASE WHEN abs(round(d6 + 1e-9, 4)) < 2e-1 THEN 'negligible'
                WHEN abs(round(d6 + 1e-9, 4)) < 5e-1 THEN 'small'
                WHEN abs(round(d6 + 1e-9, 4)) < 8e-1 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM f
    """,
)
def q_stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size for the click-vs-view lift
    (pooled-SD scale), with the Hedges g small-sample correction and a
    normal-approximation 95% CI — the 'is it BIG?' companion to
    q_stats_ttest's 'is it real?' (at 100 TB every difference is
    statistically significant; only effect size still means
    anything).  Cohen's benchmark bands on the rounded |d|.

    Shape: the identical one-agg → 1-row-cross recipe as q_stats_ttest
    (same raw moments, shared algebra); d is 6-dp-rounded before the
    g/SE/CI derivations so both engines branch on the same value."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sx"),
        F.sum(F.col("value") * F.col("value")).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    s = m.select(
        "event_type",
        n,
        (sx / n).alias("mean"),
        ((sxx - sx * sx / n) / (n - 1)).alias("var"),
    ).localCheckpoint(eager=False)
    a = s.filter(F.col("event_type") == "click").select(
        F.col("n").alias("na"),
        F.col("mean").alias("ma"),
        F.col("var").alias("va"),
    )
    b = s.filter(F.col("event_type") == "view").select(
        F.col("n").alias("nb"),
        F.col("mean").alias("mb"),
        F.col("var").alias("vb"),
    )
    na, nb = F.col("na"), F.col("nb")
    sp = F.sqrt(
        ((na - 1) * F.col("va") + (nb - 1) * F.col("vb")) / (na + nb - 2)
    )
    d6 = F.round(
        (F.col("ma") - F.col("mb")) / sp + F.lit(1e-11), 6
    )
    g = d6 * (1 - F.lit(3.0) / (4 * (na + nb) - 9))
    se = F.sqrt(
        (na + nb) / (na.cast("double") * nb) + d6 * d6 / (2 * (na + nb))
    )
    d4 = F.round(d6 + F.lit(1e-9), 4)
    band = (
        F.when(F.abs(d4) < 0.2, "negligible")
        .when(F.abs(d4) < 0.5, "small")
        .when(F.abs(d4) < 0.8, "medium")
        .otherwise("large")
    )
    return a.crossJoin(b).select(
        na.cast("bigint").alias("n_click"),
        nb.cast("bigint").alias("n_view"),
        d4.alias("cohens_d"),
        F.round(g + F.lit(1e-9), 4).alias("hedges_g"),
        F.round(d6 - 1.96 * se + F.lit(1e-9), 4).alias("ci_lo"),
        F.round(d6 + 1.96 * se + F.lit(1e-9), 4).alias("ci_hi"),
        band.alias("magnitude"),
    )


@register(
    "q_stats_sign_test",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               sum(CASE WHEN event_type = 'click' THEN value END)
                   / count(CASE WHEN event_type = 'click' THEN 1 END)
                   AS m_click,
               sum(CASE WHEN event_type = 'view' THEN value END)
                   / count(CASE WHEN event_type = 'view' THEN 1 END)
                   AS m_view
        FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events) e
        WHERE event_type IN ('click', 'view')
        GROUP BY date_trunc('day', ts)
        HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
           AND count(CASE WHEN event_type = 'view' THEN 1 END) > 0
    ),
    c AS (
        SELECT count(*) AS n_days,
               sum(CASE WHEN m_click > m_view THEN 1 ELSE 0 END) AS w,
               sum(CASE WHEN m_click < m_view THEN 1 ELSE 0 END) AS l
        FROM daily
    ),
    z AS (
        SELECT n_days, w, l,
               round((2e0 * w - (w + l)) / sqrt(w + l + 0e0)
                     + 1e-11, 6) AS zst
        FROM c
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(w AS BIGINT) AS wins_click,
           CAST(l AS BIGINT) AS wins_view,
           round(zst + 1e-9, 4) AS z,
           round(2 * (1 - {_phi_sql("abs(zst)")}) + 1e-9, 4) AS p_value,
           CAST(2 * (1 - {_phi_sql("abs(zst)")}) < 0.05 AS BOOLEAN)
               AS significant
    FROM z
    """,
)
def q_stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on DAILY means: on how many days does click
    out-earn view?  Pairing by day removes the day-level common shocks
    (campaigns, weekends) that inflate the pooled two-sample tests'
    variance, and the sign statistic needs no distributional
    assumption at all — the nonparametric sanity check on
    q_stats_ttest's parametric verdict.  B(m, ½) normal approximation
    z = (2w − m)/√m on the w + l untied days.

    Determinism: each day's means are int-count-divided sums computed
    from identical scans, so the > comparison branches the same way
    both engines; ties drop from m on both.  Shape: one conditional
    hash agg to day grain (the fused-pivot pattern), a 1-row count
    reduce, z 6-dp before the shared Φ."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    is_c = F.col("event_type") == "click"
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(F.when(is_c, F.col("value"))).alias("sc"),
            F.count(F.when(is_c, F.lit(1))).alias("nc"),
            F.sum(F.when(~is_c, F.col("value"))).alias("sv"),
            F.count(F.when(~is_c, F.lit(1))).alias("nv"),
        )
        .filter((F.col("nc") > 0) & (F.col("nv") > 0))
        .select(
            (F.col("sc") / F.col("nc")).alias("m_click"),
            (F.col("sv") / F.col("nv")).alias("m_view"),
        )
    )
    c = daily.agg(
        F.count("*").alias("n_days"),
        F.sum(
            F.when(F.col("m_click") > F.col("m_view"), 1).otherwise(0)
        ).alias("w"),
        F.sum(
            F.when(F.col("m_click") < F.col("m_view"), 1).otherwise(0)
        ).alias("l"),
    )
    w, l = F.col("w"), F.col("l")
    zst = F.round(
        (2.0 * w - (w + l)) / F.sqrt((w + l).cast("double")) + F.lit(1e-11),
        6,
    )
    z = c.withColumn("zst", zst)
    p = 2 * (1 - _phi_col(F.abs(F.col("zst"))))
    return z.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        w.cast("bigint").alias("wins_click"),
        l.cast("bigint").alias("wins_view"),
        F.round(F.col("zst") + F.lit(1e-9), 4).alias("z"),
        F.round(p + F.lit(1e-9), 4).alias("p_value"),
        (p < 0.05).alias("significant"),
    )


@register(
    "q_stats_simpson",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS stratum,
               CAST(o_custkey % 2 AS INTEGER) AS cohort,
               count(*) AS n, sum(o_totalprice) AS s
        FROM orders GROUP BY o_orderpriority, o_custkey % 2
    ),
    w AS (
        SELECT g.*,
               sum(CASE WHEN cohort = 0 THEN n END) OVER () AS na_tot,
               sum(CASE WHEN cohort = 0 THEN s END) OVER () AS sa_tot,
               sum(CASE WHEN cohort = 1 THEN n END) OVER () AS nb_tot,
               sum(CASE WHEN cohort = 1 THEN s END) OVER () AS sb_tot
        FROM g
    ),
    p AS (
        SELECT stratum,
               sum(CASE WHEN cohort = 0 THEN n END) AS n_a,
               sum(CASE WHEN cohort = 1 THEN n END) AS n_b,
               sum(CASE WHEN cohort = 0 THEN s END)
                   / sum(CASE WHEN cohort = 0 THEN n END) AS mean_a,
               sum(CASE WHEN cohort = 1 THEN s END)
                   / sum(CASE WHEN cohort = 1 THEN n END) AS mean_b,
               max(sa_tot / na_tot) AS pooled_a,
               max(sb_tot / nb_tot) AS pooled_b
        FROM w GROUP BY stratum
    )
    SELECT stratum,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(mean_a + 1e-9, 4) AS mean_a,
           round(mean_b + 1e-9, 4) AS mean_b,
           CAST(mean_a > mean_b AS BOOLEAN) AS a_wins_stratum,
           CAST(pooled_a > pooled_b AS BOOLEAN) AS a_wins_pooled,
           CAST((mean_a > mean_b) <> (pooled_a > pooled_b)
                AS BOOLEAN) AS reversed
    FROM p ORDER BY stratum
    """,
)
def q_stats_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: even-vs-odd customer cohorts compared
    on mean order value, pooled AND within every order-priority
    stratum — a stratum whose direction disagrees with the pooled
    comparison (`reversed`) is the classic aggregation trap
    (confounded mix shares), the single most common way an A/B readout
    lies.  Run before trusting any pooled q_stats_ttest verdict on
    heterogeneous traffic.

    Shape: ONE map-side-combined hash agg to the (stratum × cohort)
    ≤10-row frame; pooled means come from windows over that tiny frame
    (the q_stats_chisq marginal recipe), never a second fact scan.
    Directions compare int-count-divided sums, identical both
    engines."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.col("o_orderpriority").alias("stratum"),
        (F.col("o_custkey") % 2).cast("int").alias("cohort"),
    ).agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
    wa = W.partitionBy()
    is_a = F.col("cohort") == 0
    w = g.select(
        "*",
        F.sum(F.when(is_a, F.col("n"))).over(wa).alias("na_tot"),
        F.sum(F.when(is_a, F.col("s"))).over(wa).alias("sa_tot"),
        F.sum(F.when(~is_a, F.col("n"))).over(wa).alias("nb_tot"),
        F.sum(F.when(~is_a, F.col("s"))).over(wa).alias("sb_tot"),
    )
    p = w.groupBy("stratum").agg(
        F.sum(F.when(is_a, F.col("n"))).alias("n_a"),
        F.sum(F.when(~is_a, F.col("n"))).alias("n_b"),
        (
            F.sum(F.when(is_a, F.col("s")))
            / F.sum(F.when(is_a, F.col("n")))
        ).alias("mean_a"),
        (
            F.sum(F.when(~is_a, F.col("s")))
            / F.sum(F.when(~is_a, F.col("n")))
        ).alias("mean_b"),
        F.max(F.col("sa_tot") / F.col("na_tot")).alias("pooled_a"),
        F.max(F.col("sb_tot") / F.col("nb_tot")).alias("pooled_b"),
    )
    strat_dir = F.col("mean_a") > F.col("mean_b")
    pool_dir = F.col("pooled_a") > F.col("pooled_b")
    return p.select(
        "stratum",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.col("mean_a") + F.lit(1e-9), 4).alias("mean_a"),
        F.round(F.col("mean_b") + F.lit(1e-9), 4).alias("mean_b"),
        strat_dir.alias("a_wins_stratum"),
        pool_dir.alias("a_wins_pooled"),
        (strat_dir != pool_dir).alias("reversed"),
    ).orderBy("stratum")


@register(
    "q_stats_breusch_pagan",
    oracle=f"""
    WITH f AS (
        SELECT event_type, CAST(hour(ts::TIMESTAMP) AS DOUBLE) AS x,
               value AS y
        FROM events
    ),
    m AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM f GROUP BY event_type
    ),
    ab AS (
        SELECT event_type,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx)
                     + 1e-11, 6) AS b,
               round(sy / n - round((n * sxy - sx * sy)
                                    / (n * sxx - sx * sx)
                                    + 1e-11, 6) * sx / n
                     + 1e-11, 6) AS a
        FROM m
    ),
    r AS (
        SELECT f.event_type, f.x,
               (f.y - ab.a - ab.b * f.x)
                   * (f.y - ab.a - ab.b * f.x) AS z
        FROM f JOIN ab USING (event_type)
    ),
    aux AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
               sum(z) AS sz, sum(x * z) AS sxz, sum(z * z) AS szz
        FROM r GROUP BY event_type
    ),
    lm AS (
        SELECT event_type, n,
               round(n * pow(n * sxz - sx * sz, 2)
                     / ((n * sxx - sx * sx) * (n * szz - sz * sz))
                     + 1e-11, 6) AS lm_stat
        FROM aux
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(lm_stat + 1e-9, 4) AS lm,
           round(2 * (1 - {_phi_sql("sqrt(lm_stat)")}) + 1e-9, 4)
               AS p_value,
           CAST(2 * (1 - {_phi_sql("sqrt(lm_stat)")}) < 5e-2 AS BOOLEAN)
               AS heteroskedastic
    FROM lm ORDER BY event_type
    """,
)
def q_stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on q_stats_regression's
    value ~ hour-of-day fit, per event type: regress the SQUARED
    residuals back on x and take LM = n·R²_aux (χ²₁; survival is the
    closed form 2(1−Φ(√LM))) — if the error variance moves with the
    regressor, the OLS t-stats and every equal-variance test upstream
    are quietly wrong.  The diagnostic that tells you when to stop
    trusting q_stats_regression's r².

    Shape: TWO map-side-combined moment passes (fit moments → 6-dp
    (a,b) per type, then residual-square moments with the tiny
    coefficient frame broadcast onto the second scan) — no windows, no
    sorts; every statistic is shared-algebra over plain sums."""
    e = table(spark, sf_dir, "events")
    f = e.select(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    m = f.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    # try_divide: a singleton (or constant-x) group has zero regressor
    # variance — slope and LM undefined, NULL not an ANSI crash (r6)
    b6 = F.round(
        F.try_divide(n * F.col("sxy") - sx * sy, n * F.col("sxx") - sx * sx)
        + F.lit(1e-11),
        6,
    )
    ab = m.select(
        "event_type",
        b6.alias("b"),
        F.round(sy / n - b6 * sx / n + F.lit(1e-11), 6).alias("a"),
    )
    res = (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
    r = f.join(F.broadcast(ab), "event_type").select(
        "event_type", "x", (res * res).alias("z")
    )
    aux = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    n, sx, sz = F.col("n"), F.col("sx"), F.col("sz")
    lm6 = F.round(
        F.try_divide(
            n * F.pow(n * F.col("sxz") - sx * sz, 2),
            (n * F.col("sxx") - sx * sx) * (n * F.col("szz") - sz * sz),
        )
        + F.lit(1e-11),
        6,
    )
    lm = aux.withColumn("lm_stat", lm6)
    p = 2 * (1 - _phi_col(F.sqrt(F.col("lm_stat"))))
    return lm.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(F.col("lm_stat") + F.lit(1e-9), 4).alias("lm"),
        F.round(p + F.lit(1e-9), 4).alias("p_value"),
        (p < 0.05).alias("heteroskedastic"),
    ).orderBy("event_type")


@register(
    "q_stats_durbin_watson",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               sum(value) / count(*) AS ym
        FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events) e
        GROUP BY event_type, date_trunc('day', ts)
    ),
    idx AS (
        SELECT event_type, ym,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY day) AS DOUBLE) AS t
        FROM daily
    ),
    m AS (
        SELECT event_type, count(*) AS n, sum(t) AS st, sum(ym) AS sy,
               sum(t * ym) AS sty, sum(t * t) AS stt
        FROM idx GROUP BY event_type
    ),
    ab AS (
        SELECT event_type,
               round((n * sty - st * sy) / (n * stt - st * st)
                     + 1e-11, 6) AS b,
               round(sy / n - round((n * sty - st * sy)
                                    / (n * stt - st * st)
                                    + 1e-11, 6) * st / n
                     + 1e-11, 6) AS a
        FROM m
    ),
    res AS (
        SELECT idx.event_type,
               idx.ym - ab.a - ab.b * idx.t AS e,
               lag(idx.ym - ab.a - ab.b * idx.t)
                   OVER (PARTITION BY idx.event_type ORDER BY idx.t)
                   AS e_prev
        FROM idx JOIN ab USING (event_type)
    ),
    d AS (
        SELECT event_type, count(*) AS n_days,
               round(sum(CASE WHEN e_prev IS NOT NULL
                              THEN (e - e_prev) * (e - e_prev)
                              ELSE 0 END) / sum(e * e) + 1e-11, 6) AS dw
        FROM res GROUP BY event_type
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           round(dw + 1e-9, 4) AS dw,
           CASE WHEN dw < 15e-1 THEN 'positive'
                WHEN dw > 25e-1 THEN 'negative'
                ELSE 'none' END AS residual_autocorr
    FROM d ORDER BY event_type
    """,
)
def q_stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of a daily-mean-value
    ~ day-index OLS trend fit, per event type: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ²
    (≈2 independent, →0 positive serial correlation, →4 negative) —
    the other half of the regression-diagnostics pair with
    q_stats_breusch_pagan: BP catches variance structure, DW catches
    the serial correlation that makes trend-fit confidence intervals
    fictional.  The conventional 1.5/2.5 decision bands.

    Shape: one hash agg to day grain → the whole fit-and-residual
    pipeline runs on the bounded per-type day frame (moments → 6-dp
    (a,b) joined back → one lag window) — nothing after the first agg
    ever touches the fact table."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg((F.sum("value") / F.count("*")).alias("ym"))
    idx = daily.select(
        "event_type",
        "ym",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("double")
        .alias("t"),
    )
    m = idx.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("ym").alias("sy"),
        F.sum(F.col("t") * F.col("ym")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    # try_divide: a 1-day series has zero time variance — slope and DW
    # undefined, NULL not an ANSI crash (round-6 degenerate audit)
    b6 = F.round(
        F.try_divide(n * F.col("sty") - st * sy, n * F.col("stt") - st * st)
        + F.lit(1e-11),
        6,
    )
    ab = m.select(
        "event_type",
        b6.alias("b"),
        F.round(sy / n - b6 * st / n + F.lit(1e-11), 6).alias("a"),
    )
    resid = F.col("ym") - F.col("a") - F.col("b") * F.col("t")
    res = idx.join(F.broadcast(ab), "event_type").select(
        "event_type",
        resid.alias("e"),
        F.lag(resid)
        .over(Window.partitionBy("event_type").orderBy("t"))
        .alias("e_prev"),
    )
    d = res.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("e_prev").isNotNull(),
                        (F.col("e") - F.col("e_prev"))
                        * (F.col("e") - F.col("e_prev")),
                    ).otherwise(0.0)
                ),
                F.sum(F.col("e") * F.col("e")),
            )
            + F.lit(1e-11),
            6,
        ).alias("dw"),
    )
    verdict = (
        F.when(F.col("dw").isNull(), F.lit(None).cast("string"))
        .when(F.col("dw") < 1.5, "positive")
        .when(F.col("dw") > 2.5, "negative")
        .otherwise("none")
    )
    return d.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(F.col("dw") + F.lit(1e-9), 4).alias("dw"),
        verdict.alias("residual_autocorr"),
    ).orderBy("event_type")


@register(
    "q_stats_gamma_mom",
    oracle="""
    WITH m AS (
        SELECT event_type, count(*) AS n, sum(value) AS sx,
               sum(value * value) AS sxx
        FROM events GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n, sx / n AS mu,
               sxx / n - (sx / n) * (sx / n) AS v
        FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(mu + 1e-9, 4) AS mean,
           round(mu * mu / v + 1e-9, 4) AS shape_k,
           round(v / mu + 1e-9, 4) AS scale_theta,
           round(sqrt(v) / mu + 1e-9, 4) AS cv,
           CAST(mu * mu / v < 1 AS BOOLEAN) AS overdispersed
    FROM c ORDER BY event_type
    """,
)
def q_stats_gamma_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments Gamma fit of `value` per event type:
    k = μ²/σ², θ = σ²/μ (population moments) — the two parameters a
    capacity planner or anomaly threshold actually consumes for a
    positive right-skewed metric (latency, spend), plus the coefficient
    of variation and the k<1 overdispersion flag (CV>1 ⇒ heavier than
    exponential ⇒ percentile-based alerting, not μ+3σ).  The
    parametric summary beside q_stats_hill's tail index and
    q_agg_moments' shape readouts.

    Shape: ONE map-side-combined raw-moment agg (n, Σx, Σx²) per group
    → k-row algebra; the cheapest distributed shape there is."""
    e = table(spark, sf_dir, "events")
    v = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("sx"),
        F.sum(v * v).alias("sxx"),
    )
    n = F.col("n")
    mu = F.col("sx") / n
    var = F.col("sxx") / n - mu * mu
    # try_divide: zero-variance (singleton) groups leave the MoM fit
    # undefined — NULL, not an ANSI crash (round-6 degenerate audit)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(mu + F.lit(1e-9), 4).alias("mean"),
        F.round(F.try_divide(mu * mu, var) + F.lit(1e-9), 4).alias(
            "shape_k"
        ),
        F.round(F.try_divide(var, mu) + F.lit(1e-9), 4).alias(
            "scale_theta"
        ),
        F.round(F.try_divide(F.sqrt(var), mu) + F.lit(1e-9), 4).alias("cv"),
        (F.try_divide(mu * mu, var) < 1).alias("overdispersed"),
    ).orderBy("event_type")


@register(
    "q_stats_negbin_mom",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, count(*) AS x
        FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events) e
        GROUP BY event_type, date_trunc('day', ts)
    ),
    m AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n, sx / CAST(n AS DOUBLE) AS mu,
               sxx / CAST(n AS DOUBLE)
                   - pow(sx / CAST(n AS DOUBLE), 2) AS v
        FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(mu + 1e-9, 4) AS mean,
           round(v + 1e-9, 4) AS variance,
           round(v / mu + 1e-9, 4) AS dispersion_index,
           round(CASE WHEN v > mu THEN mu * mu / (v - mu) END
                 + 1e-9, 4) AS nb_r,
           round(CASE WHEN v > mu THEN mu / v END + 1e-9, 4) AS nb_p,
           CAST(v / mu <= 12e-1 AS BOOLEAN) AS poisson_ok
    FROM c ORDER BY event_type
    """,
)
def q_stats_negbin_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of DAILY EVENT COUNTS
    per type: dispersion index σ²/μ (Poisson = 1), and when
    overdispersed the NB parameters r = μ²/(σ²−μ), p = μ/σ² — the
    count-data twin of q_stats_gamma_mom (counts, not amounts): a
    Poisson alerting threshold on traffic that is actually NB fires
    constantly, and this is the 30-second check.  nb_r/nb_p are NULL
    when the data is at-or-under-dispersed (MoM has no NB solution).

    Shape: day-grain hash agg → exact integer moments (daily counts)
    → k-row algebra; identical integer sums both engines."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    mu = F.col("sx") / n.cast("double")
    v = F.col("sxx") / n.cast("double") - mu * mu
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        F.round(mu + F.lit(1e-9), 4).alias("mean"),
        F.round(v + F.lit(1e-9), 4).alias("variance"),
        F.round(v / mu + F.lit(1e-9), 4).alias("dispersion_index"),
        F.round(
            F.when(v > mu, mu * mu / (v - mu)) + F.lit(1e-9), 4
        ).alias("nb_r"),
        F.round(F.when(v > mu, mu / v) + F.lit(1e-9), 4).alias("nb_p"),
        (v / mu <= 1.2).alias("poisson_ok"),
    ).orderBy("event_type")


@register(
    "q_stats_circular",
    oracle="""
    WITH a AS (
        SELECT event_type,
               2 * pi() * ((CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT)
                            % 86400) / 86400e0) AS theta
        FROM events
    ),
    m AS (
        SELECT event_type, count(*) AS n,
               sum(sin(theta)) AS s, sum(cos(theta)) AS c
        FROM a GROUP BY event_type
    ),
    r AS (
        SELECT event_type, n,
               sqrt(s * s + c * c) / n AS rbar,
               atan2(s, c) AS ang
        FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(((CASE WHEN ang < 0 THEN ang + 2 * pi() ELSE ang END)
                  / (2 * pi())) * 24 + 1e-9, 4) AS mean_hour,
           round(rbar + 1e-9, 4) AS resultant,
           round(1 - rbar + 1e-9, 4) AS circ_variance,
           CAST(rbar > 5e-1 AS BOOLEAN) AS concentrated
    FROM r ORDER BY event_type
    """,
)
def q_stats_circular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of event time-of-day per type: mean
    DIRECTION on the 24 h clock (the right way to average 23:00 and
    01:00 to midnight, where the arithmetic mean says noon) and the
    resultant length R̄ (1 = all events at the same instant, 0 =
    uniform around the clock; 1−R̄ is the circular variance) — the
    peak-hour summary q_ts_seasonality's 168-cell grid compresses to
    two numbers per type.

    Shape: per-row unit-circle projection (sin/cos of the
    second-of-day angle, integer-exact seconds both engines:
    floor(epoch) ≡ unix_timestamp) → ONE map-side-combined (Σsin,
    Σcos) agg → k-row atan2 algebra."""
    e = table(spark, sf_dir, "events")
    theta = (
        2
        * math.pi
        * (
            (F.unix_timestamp(F.col("ts")) % 86400)
            / F.lit(86400.0)
        )
    )
    a = e.select("event_type", theta.alias("theta"))
    m = a.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.sin("theta")).alias("s"),
        F.sum(F.cos("theta")).alias("c"),
    )
    n, s, c = F.col("n"), F.col("s"), F.col("c")
    rbar = F.sqrt(s * s + c * c) / n
    ang = F.atan2(s, c)
    ang_pos = F.when(ang < 0, ang + 2 * math.pi).otherwise(ang)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(ang_pos / (2 * math.pi) * 24 + F.lit(1e-9), 4).alias(
            "mean_hour"
        ),
        F.round(rbar + F.lit(1e-9), 4).alias("resultant"),
        F.round(1 - rbar + F.lit(1e-9), 4).alias("circ_variance"),
        (rbar > 0.5).alias("concentrated"),
    ).orderBy("event_type")


@register(
    "q_stats_gpd_pot",
    oracle="""
    WITH thr AS (
        SELECT event_type,
               round(quantile_cont(value, 0.95) + 1e-11, 6) AS u
        FROM events GROUP BY event_type
    ),
    ex AS (
        SELECT e.event_type, e.value - thr.u AS x, thr.u
        FROM events e JOIN thr USING (event_type)
        WHERE e.value > thr.u
    ),
    m AS (
        SELECT event_type, max(u) AS u, count(*) AS n,
               sum(x) AS sx, sum(x * x) AS sxx
        FROM ex GROUP BY event_type
    ),
    c AS (
        SELECT event_type, u, n, sx / n AS mu,
               sxx / n - (sx / n) * (sx / n) AS v
        FROM m
    )
    SELECT event_type, round(u + 1e-9, 4) AS threshold,
           CAST(n AS BIGINT) AS n_exceed,
           round(mu + 1e-9, 4) AS mean_excess,
           round(5e-1 * (1 - mu * mu / v) + 1e-9, 4) AS gpd_xi,
           round(5e-1 * mu * (mu * mu / v + 1) + 1e-9, 4) AS gpd_beta,
           CAST(5e-1 * (1 - mu * mu / v) > 0 AS BOOLEAN) AS heavy_tail
    FROM c ORDER BY event_type
    """,
)
def q_stats_gpd_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value fit per event type: exact
    p95 threshold, exceedance count, mean excess, and method-of-
    moments Generalized Pareto parameters ξ = ½(1 − μ²/σ²),
    β = ½μ(μ²/σ² + 1) over the excesses — THE standard tail model for
    'how bad can value get?' capacity questions (ξ > 0 ⇒ power-law
    tail, finite-sample maxima keep growing; ξ < 0 ⇒ bounded tail).
    Completes the EVT family: q_stats_hill (tail index), q_stats_gumbel
    (block maxima), this (threshold excesses).

    Determinism: the threshold is the exact interpolated p95 (the
    q_agg_percentile construction, parity-proven), 6-dp rounded before
    the comparison so both engines cut the identical exceedance set;
    excess moments are plain sums.  Shape: one percentile agg → k-row
    broadcast join back → one moment agg (the q_stats_breusch_pagan
    two-pass recipe); the documented 100 TB swap is
    approx_percentile for the cutpoint."""
    e = table(spark, sf_dir, "events")
    thr = e.groupBy("event_type").agg(
        F.round(
            F.percentile("value", F.lit(0.95)) + F.lit(1e-11), 6
        ).alias("u")
    )
    ex = (
        e.join(F.broadcast(thr), "event_type")
        .filter(F.col("value") > F.col("u"))
        .select(
            "event_type", (F.col("value") - F.col("u")).alias("x"), "u"
        )
    )
    m = ex.groupBy("event_type").agg(
        F.max("u").alias("u"),
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    mu = F.col("sx") / n
    v = F.col("sxx") / n - mu * mu
    xi = 0.5 * (1 - mu * mu / v)
    beta = 0.5 * mu * (mu * mu / v + 1)
    return m.select(
        "event_type",
        F.round(F.col("u") + F.lit(1e-9), 4).alias("threshold"),
        n.cast("bigint").alias("n_exceed"),
        F.round(mu + F.lit(1e-9), 4).alias("mean_excess"),
        F.round(xi + F.lit(1e-9), 4).alias("gpd_xi"),
        F.round(beta + F.lit(1e-9), 4).alias("gpd_beta"),
        (xi > 0).alias("heavy_tail"),
    ).orderBy("event_type")


@register(
    "q_stats_srm",
    oracle=f"""
    WITH u AS (
        SELECT DISTINCT user_id FROM events
    ),
    c AS (
        SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb,
               count(*) AS n
        FROM u
    ),
    z AS (
        SELECT na, nb, n,
               round(pow(na - n / 2e0, 2) / (n / 2e0)
                     + pow(nb - n / 2e0, 2) / (n / 2e0) + 1e-11, 6)
                   AS chi2
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(na / CAST(n AS DOUBLE) + 1e-9, 4) AS ratio_a,
           round(chi2 + 1e-9, 4) AS chi2,
           round(2 * (1 - {_phi_sql("sqrt(chi2)")}) + 1e-9, 4) AS p_value,
           CAST(2 * (1 - {_phi_sql("sqrt(chi2)")}) < 1e-3 AS BOOLEAN)
               AS srm_detected
    FROM z
    """,
)
def q_stats_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the user_id-parity experiment
    split: χ²(1) goodness-of-fit of the DISTINCT-UNIT counts against
    the designed 50/50 (survival again the exact 2(1−Φ(√χ²)) form) —
    the mandatory pre-test for every A/B readout in this suite
    (q_stats_ttest/cuped/bayes_ab): a p < 0.001 here means the
    assignment itself is broken (bot filtering, logging loss) and any
    downstream metric comparison is garbage regardless of its own
    p-value.  Units, not events: per-user weighting is exactly the
    mistake SRM tests exist to catch.

    Shape: one distinct-user agg (two-phase, map-side combined) → a
    1-row parity count → closed-form algebra."""
    e = table(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    c = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("nb"),
        F.count("*").alias("n"),
    )
    n, na, nb = F.col("n"), F.col("na"), F.col("nb")
    half = n / F.lit(2.0)
    chi2 = F.round(
        F.pow(na - half, 2) / half + F.pow(nb - half, 2) / half
        + F.lit(1e-11),
        6,
    )
    z = c.withColumn("chi2", chi2)
    p = 2 * (1 - _phi_col(F.sqrt(F.col("chi2"))))
    return z.select(
        n.cast("bigint").alias("n_units"),
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(na / n.cast("double") + F.lit(1e-9), 4).alias("ratio_a"),
        F.round(F.col("chi2") + F.lit(1e-9), 4).alias("chi2"),
        F.round(p + F.lit(1e-9), 4).alias("p_value"),
        (p < 0.001).alias("srm_detected"),
    )


@register(
    "q_stats_tail_ratio",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
           round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90,
           round(quantile_cont(value, 0.99) + 1e-9, 4) AS p99,
           round(quantile_cont(value, 0.99)
                 / quantile_cont(value, 0.5) + 1e-9, 4) AS p99_over_p50,
           round(quantile_cont(value, 0.9)
                 / quantile_cont(value, 0.5) + 1e-9, 4) AS p90_over_p50,
           CAST(quantile_cont(value, 0.99)
                / quantile_cont(value, 0.5) > 10 AS BOOLEAN)
               AS long_tailed
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_stats_tail_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-ratio latency/spend card per event type: exact p50/p90/p99
    and the p99/p50, p90/p50 ratios — the scale-free tail-heaviness
    numbers an SLO review quotes (means lie, absolute percentiles
    don't compare across types; RATIOS do), with the p99/p50 > 10×
    long-tail flag that says percentile-based alerting is mandatory.
    The quick-read companion to q_stats_gpd_pot's full tail model.

    Shape: ONE exact-percentile aggregate per group with all three
    percentages in a single array (one sort buffer per group, the
    q_agg_percentile construction); t-digest approx_percentile is the
    documented 100 TB swap."""
    e = table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("ps"),
    )
    p50, p90, p99 = F.col("ps")[0], F.col("ps")[1], F.col("ps")[2]
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(p50 + F.lit(1e-9), 4).alias("p50"),
        F.round(p90 + F.lit(1e-9), 4).alias("p90"),
        F.round(p99 + F.lit(1e-9), 4).alias("p99"),
        F.round(p99 / p50 + F.lit(1e-9), 4).alias("p99_over_p50"),
        F.round(p90 / p50 + F.lit(1e-9), 4).alias("p90_over_p50"),
        (p99 / p50 > 10).alias("long_tailed"),
    ).orderBy("event_type")


@register(
    "q_stats_influence",
    oracle="""
    WITH m AS (
        SELECT event_type, count(*) AS n, sum(value) AS s,
               max(value) AS mx
        FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(s / n + 1e-9, 4) AS mean,
           round((s - mx) / (n - 1) + 1e-9, 4) AS mean_without_max,
           round((s / n - (s - mx) / (n - 1)) / (s / n) + 1e-9, 6)
               AS max_influence,
           round(mx / s + 1e-9, 6) AS top1_share,
           CAST(mx / s > 1e-2 AS BOOLEAN) AS whale_fragile
    FROM m ORDER BY event_type
    """,
)
def q_stats_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-observation influence card: the leave-one-out shift of
    the mean when the LARGEST value is removed, and the top-1 value's
    share of the total — the exact finite-sample answer to 'is this
    metric one whale away from a different story?' that the asymptotic
    robust alternatives (q_stats_mad, q_agg_winsorized) approximate.
    LOO-max shift is a closed form over three moments — no second
    pass, no sort.

    Shape: one map-side-combined (n, Σx, max) agg per type → k-row
    algebra; the cheapest robustness diagnostic there is."""
    e = table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.max("value").alias("mx"),
    )
    n, s, mx = F.col("n"), F.col("s"), F.col("mx")
    mean = s / n
    # try_divide: leave-one-out over a singleton group (n-1 = 0) and
    # shares of a zero total are undefined — NULL, not an ANSI crash
    loo = F.try_divide(s - mx, n - 1)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(mean + F.lit(1e-9), 4).alias("mean"),
        F.round(loo + F.lit(1e-9), 4).alias("mean_without_max"),
        F.round(F.try_divide(mean - loo, mean) + F.lit(1e-9), 6).alias(
            "max_influence"
        ),
        F.round(F.try_divide(mx, s) + F.lit(1e-9), 6).alias("top1_share"),
        (F.try_divide(mx, s) > 0.01).alias("whale_fragile"),
    ).orderBy("event_type")


_OVL_BINS = 20


@register(
    "q_stats_overlap",
    oracle=f"""
    WITH f AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('click', 'view')
    ),
    rng AS (SELECT min(value) AS lo, max(value) AS hi FROM f),
    binned AS (
        SELECT f.event_type,
               least(CAST(floor((f.value - rng.lo)
                                / ((rng.hi - rng.lo) / {_OVL_BINS}))
                          AS INTEGER), {_OVL_BINS - 1}) AS bin
        FROM f, rng
    ),
    c AS (
        SELECT bin,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
        FROM binned GROUP BY bin
    ),
    t AS (
        SELECT c.*, sum(a) OVER () AS ta, sum(b) OVER () AS tb FROM c
    )
    SELECT CAST(sum(a) AS BIGINT) AS n_click,
           CAST(sum(b) AS BIGINT) AS n_view,
           round(sum(least(a / CAST(ta AS DOUBLE),
                           b / CAST(tb AS DOUBLE))) + 1e-9, 4)
               AS overlap_coef,
           round(1 - sum(least(a / CAST(ta AS DOUBLE),
                               b / CAST(tb AS DOUBLE))) + 1e-9, 4)
               AS separation,
           CAST(sum(least(a / CAST(ta AS DOUBLE),
                          b / CAST(tb AS DOUBLE))) > 9e-1
                AS BOOLEAN) AS distributions_similar
    FROM t
    """,
)
def q_stats_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-overlap coefficient between the click and view
    value distributions: Σ min(pᵢ, qᵢ) over 20 shared equal-width bins
    — the literal 'what fraction of the two histograms is shared mass'
    number (1 − total-variation distance), far more communicable to a
    stakeholder than q_dq_psi's log-odds units or q_ml_ks's sup-gap:
    'the distributions are 87% the same' needs no legend.

    Determinism: the shared bin grid comes from a 1-row (min, max)
    aggregate broadcast (identical edges both engines, floor-indexed
    with a top-edge clamp); bin masses are exact integers.  Shape: one
    1-row range agg → binned conditional count agg → ≤20-row
    algebra."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    rng = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = e.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / _OVL_BINS)
            ).cast("int"),
            F.lit(_OVL_BINS - 1),
        ).alias("bin"),
    )
    c = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "a"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "b"
        ),
    )
    from pyspark.sql import Window

    t = c.select(
        "*",
        F.sum("a").over(Window.partitionBy()).alias("ta"),
        F.sum("b").over(Window.partitionBy()).alias("tb"),
    )
    ovl = F.sum(
        F.least(
            F.col("a") / F.col("ta").cast("double"),
            F.col("b") / F.col("tb").cast("double"),
        )
    )
    agg = t.agg(
        F.sum("a").cast("bigint").alias("n_click"),
        F.sum("b").cast("bigint").alias("n_view"),
        ovl.alias("ovl"),
    )
    return agg.select(
        "n_click",
        "n_view",
        F.round(F.col("ovl") + F.lit(1e-9), 4).alias("overlap_coef"),
        F.round(1 - F.col("ovl") + F.lit(1e-9), 4).alias("separation"),
        (F.col("ovl") > 0.9).alias("distributions_similar"),
    )


# --- Round-10 registrations (formerly operators/staged_r10.py, the
# [STAGED r10] batch #434-450): moved into their family modules at
# the registration flip (VERDICT r9 §Next-round #2). ---


@register(
    "q_stats_kendall",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate::DATE AS d,
               count(*) AS x,
               count(DISTINCT o_custkey) AS y
        FROM orders GROUP BY 1
    ),
    nd AS (SELECT count(*) AS n_days FROM daily),
    pairs AS (
        SELECT (a.x - b.x) AS sx, (a.y - b.y) AS sy
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    agg AS (
        SELECT count(*) AS n0,
               sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS disc,
               sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS n2
        FROM pairs
    )
    SELECT (SELECT CAST(n_days AS BIGINT) FROM nd) AS n_days,
           CAST(c AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           round((c - disc) / sqrt((n0 - n1) * 1e0 * (n0 - n2)) + 1e-12, 4)
               + 0.0 AS tau_b
    FROM agg
    """,
)
def q_stats_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between daily order volume and daily distinct
    buyers — the rank-correlation complement of q_stats_spearman that
    handles ties by construction (tau-b's denominator discounts them),
    on two INTEGER series so concordance decisions are exact on both
    engines (no float-sign ambiguity).

    Shape: one date-keyed aggregate (≤ ~2.4 k rows at any fixture
    scale — bounded by the calendar, not the table), an O(days²)
    self-join (≈3 M pairs) with integer sign products, and one final
    scalar row.  At 100 TB the daily frame is identical; only the
    first aggregate sees more data."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("x"),
        F.countDistinct("o_custkey").alias("y"),
    )
    nd = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        (F.col("xa") - F.col("xb")).alias("sx"),
        (F.col("ya") - F.col("yb")).alias("sy"),
    )
    agg = pairs.agg(
        F.count("*").alias("n0"),
        F.sum(F.when(F.col("sx") * F.col("sy") > 0, 1).otherwise(0)).alias("c"),
        F.sum(F.when(F.col("sx") * F.col("sy") < 0, 1).otherwise(0)).alias(
            "disc"
        ),
        F.sum(F.when(F.col("sx") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("sy") == 0, 1).otherwise(0)).alias("n2"),
    )
    return (
        F.broadcast(nd)
        .crossJoin(agg)
        .select(
            "n_days",
            F.col("c").cast("bigint").alias("concordant"),
            F.col("disc").cast("bigint").alias("discordant"),
            (
                # try_divide, not `/` (ADVICE r10 #2): a constant x or
                # y series (all daily counts equal) zeroes the tau-b
                # denominator, and under ANSI mode a plain divide is a
                # DIVIDE_BY_ZERO crash — the same degenerate class the
                # sibling welch/friedman/cramers_v queries harden.  The
                # undefined statistic degrades to NULL instead.
                F.round(
                    F.try_divide(
                        F.col("c") - F.col("disc"),
                        F.sqrt(
                            (F.col("n0") - F.col("n1"))
                            * 1.0
                            * (F.col("n0") - F.col("n2"))
                        ),
                    )
                    + F.lit(1e-12),
                    4,
                )
                + F.lit(0.0)
            ).alias("tau_b"),
        )
    )


@register(
    "q_stats_hodges_lehmann",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS pri, o_orderdate::DATE AS d,
               count(*) AS c
        FROM orders GROUP BY 1, 2
    ),
    walsh AS (
        SELECT a.pri, (a.c + b.c) / 2.0 AS w
        FROM daily a JOIN daily b ON a.pri = b.pri AND a.d <= b.d
    )
    SELECT w.pri AS o_orderpriority,
           (SELECT CAST(count(*) AS BIGINT) FROM daily dd
             WHERE dd.pri = w.pri) AS n_days,
           round(median(w.w) + 1e-9, 2) + 0.0 AS hl
    FROM walsh w
    GROUP BY w.pri
    ORDER BY o_orderpriority
    """,
)
def q_stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of daily order volume per
    priority class: the median of all Walsh averages (c_i + c_j)/2,
    i ≤ j — the robust location estimator behind the Wilcoxon
    signed-rank test (30% breakdown, ~96% Gaussian efficiency vs the
    mean's 0% breakdown and the median's 64% efficiency).  Inputs are
    integer daily counts, so every Walsh average is an exact half-
    integer and the cross-engine median is bit-identical.

    Shape (round 10 rewrite): the naive within-group O(days²) pair
    join materialized ≈3 M Walsh rows per priority (4-6 s at sf0.1);
    daily counts REPEAT heavily, so the same Walsh multiset is counted
    exactly from the value histogram H(v) = #days with count v — a
    V×V convolution (V = distinct daily counts, ~40-400) plus a
    cumulative-weight median pick (the q_win_weighted_median recipe):
    pairs with v < w contribute H(v)·H(w) Walsh values, the diagonal
    contributes H(v)·(H(v)+1)/2 (i ≤ j includes i = j).  ~10 k
    weighted rows replace ~14 M materialized ones; exact-integer
    counts keep the median bit-identical to the oracle's materialized
    form.  At 100 TB the histogram is still calendar-bounded, and the
    worst case (all counts distinct) degrades only to the naive
    shape's own cost."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(F.count("*").alias("c"))
    nd = daily.groupBy("pri").agg(F.count("*").cast("bigint").alias("n_days"))
    hist = daily.groupBy("pri", "c").agg(F.count("*").alias("h"))
    x = hist.select(
        "pri", F.col("c").alias("cx"), F.col("h").alias("hx")
    )
    y = hist.select(
        F.col("pri").alias("priy"), F.col("c").alias("cy"), F.col("h").alias("hy")
    )
    cells = x.join(
        y, (F.col("pri") == F.col("priy")) & (F.col("cx") <= F.col("cy"))
    ).select(
        "pri",
        ((F.col("cx") + F.col("cy")) / 2.0).alias("w"),
        F.when(
            F.col("cx") < F.col("cy"), F.col("hx") * F.col("hy")
        ).otherwise(
            (F.col("hx") * (F.col("hx") + 1) / 2).cast("long")
        ).alias("cnt"),
    )
    # Exact weighted median over (w, cnt): with N total Walsh values,
    # the median is the mean of the elements at 1-indexed positions
    # ⌈N/2⌉ and ⌊N/2⌋+1 of the sorted expansion (equal when N is odd)
    # — located by the first w whose cumulative count reaches each
    # position.  Windows run over the tiny V-sized histogram frame.
    wcum = Window.partitionBy("pri").orderBy("w").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy("pri")
    ranked = cells.select(
        "pri",
        "w",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("ntot"),
    )
    lo_pos = F.col("ntot") - (F.col("ntot") / 2).cast("long")  # ceil(N/2)
    hi_pos = (F.col("ntot") / 2).cast("long") + 1  # floor(N/2)+1
    hl = ranked.groupBy("pri").agg(
        (
            F.round(
                (
                    F.min(F.when(F.col("cum") >= lo_pos, F.col("w")))
                    + F.min(F.when(F.col("cum") >= hi_pos, F.col("w")))
                )
                / 2.0
                + F.lit(1e-9),
                2,
            )
            + F.lit(0.0)
        ).alias("hl")
    )
    return (
        nd.join(hl, "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_days",
            "hl",
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_stats_friedman",
    oracle="""
    WITH daily AS (
        SELECT ts::DATE AS d, event_type AS t, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT cal.d, ty.t, coalesce(daily.c, 0) AS c
        FROM (SELECT DISTINCT d FROM daily) cal
        CROSS JOIN (SELECT DISTINCT t FROM daily) ty
        LEFT JOIN daily ON daily.d = cal.d AND daily.t = ty.t
    ),
    ranked AS (
        SELECT d, t, c,
               count(*) FILTER (WHERE 1=1)
                   OVER (PARTITION BY d ORDER BY c
                         RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS cnt_lt,
               count(*) OVER (PARTITION BY d, c) AS tied
        FROM grid
    ),
    rk AS (
        SELECT d, t, cnt_lt + (tied + 1) / 2.0 AS r, tied
        FROM ranked
    ),
    rsum AS (SELECT t, sum(r) AS rj FROM rk GROUP BY t),
    dims AS (
        SELECT (SELECT count(DISTINCT d) FROM grid) AS n,
               (SELECT count(DISTINCT t) FROM grid) AS k
    ),
    ties AS (
        SELECT coalesce(sum(tt * tt * tt - tt), 0) AS tcorr
        FROM (
            SELECT d, c, count(*) AS tt FROM grid GROUP BY d, c
        )
    )
    SELECT CAST(dims.n AS BIGINT) AS n_blocks,
           CAST(dims.k AS BIGINT) AS k_treatments,
           round(
             (12.0 * (SELECT sum(rj * rj) FROM rsum)
                / (dims.n * dims.k * (dims.k + 1))
              - 3.0 * dims.n * (dims.k + 1))
             / (1.0 - ties.tcorr
                      / (CAST(dims.n AS DOUBLE) * (dims.k * dims.k * dims.k
                                                   - dims.k)))
             + 1e-9, 4) + 0.0 AS chi2_f
    FROM dims CROSS JOIN ties
    """,
)
def q_stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (tie-corrected) for the daily event-type volume
    panel: blocks = days, treatments = the 5 event types, response =
    daily count — do the types differ in volume once day-level noise
    is blocked out?  The non-parametric two-way complement of
    q_stats_kruskal (one-way) and q_stats_anova (parametric); the
    workhorse test for 'same metric, k variants, repeated daily'.

    Average ranks for ties computed closed-form (below-count +
    (tied+1)/2 — exact half-integers from integer counts, never a
    float sort), the zero-filled day×type grid bounds every window at
    calendar × type size, and the tie-corrected statistic
    Q / (1 − Σ(t³−t)/(nk(k²−1))·…) uses only exact integer sums until
    the final division."""
    ev = table(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = ev.groupBy("d", F.col("event_type").alias("t")).agg(
        F.count("*").alias("c")
    )
    cal = daily.select("d").distinct()
    ty = daily.select("t").distinct()
    grid = (
        cal.crossJoin(F.broadcast(ty))
        .join(daily, ["d", "t"], "left")
        .select("d", "t", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_lt = (
        Window.partitionBy("d")
        .orderBy("c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy("d", "c")
    rk = grid.select(
        "d",
        "t",
        "c",
        (
            F.coalesce(F.count("*").over(w_lt), F.lit(0))
            + (F.count("*").over(w_tie) + 1) / 2.0
        ).alias("r"),
    )
    rsum = rk.groupBy("t").agg(F.sum("r").alias("rj"))
    sum_rj2 = rsum.agg(F.sum(F.col("rj") * F.col("rj")).alias("s2"))
    dims = grid.agg(
        F.countDistinct("d").alias("n"), F.countDistinct("t").alias("k")
    )
    ties = (
        grid.groupBy("d", "c")
        .agg(F.count("*").alias("tt"))
        .agg(
            F.coalesce(
                F.sum(F.col("tt") * F.col("tt") * F.col("tt") - F.col("tt")),
                F.lit(0),
            ).alias("tcorr")
        )
    )
    return (
        dims.crossJoin(F.broadcast(sum_rj2))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").cast("bigint").alias("n_blocks"),
            F.col("k").cast("bigint").alias("k_treatments"),
            # try_divide at every degenerate-capable denominator
            # (audit_empty r10): an empty grid zeroes n·k·(k+1), a
            # single treatment zeroes k³−k, and an all-tied panel
            # zeroes the whole tie-correction factor — the undefined
            # statistic is NULL, never an ANSI crash; value-identical
            # to `/` on every non-degenerate input (oracle unchanged).
            (
                F.round(
                    F.try_divide(
                        F.try_divide(
                            12.0 * F.col("s2"),
                            F.col("n") * F.col("k") * (F.col("k") + 1),
                        )
                        - 3.0 * F.col("n") * (F.col("k") + 1),
                        1.0
                        - F.try_divide(
                            F.col("tcorr"),
                            F.col("n").cast("double")
                            * (
                                F.col("k") * F.col("k") * F.col("k")
                                - F.col("k")
                            ),
                        ),
                    )
                    + F.lit(1e-9),
                    4,
                )
                + F.lit(0.0)
            ).alias("chi2_f"),
        )
    )


@register(
    "q_stats_cramers_v",
    oracle="""
    WITH ct AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS o
        FROM orders GROUP BY 1, 2
    ),
    full_ct AS (
        SELECT ra.a, rb.b, coalesce(ct.o, 0) AS o
        FROM (SELECT DISTINCT a FROM ct) ra
        CROSS JOIN (SELECT DISTINCT b FROM ct) rb
        LEFT JOIN ct ON ct.a = ra.a AND ct.b = rb.b
    ),
    marg AS (
        SELECT a, b, o,
               sum(o) OVER (PARTITION BY a) AS ra,
               sum(o) OVER (PARTITION BY b) AS cb,
               sum(o) OVER () AS n
        FROM full_ct
    ),
    chi AS (
        SELECT any_value(n) AS n,
               count(DISTINCT a) AS r,
               count(DISTINCT b) AS c,
               sum((o - ra * cb / (1.0 * n)) * (o - ra * cb / (1.0 * n))
                   / (ra * cb / (1.0 * n))) AS chi2
        FROM marg
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           round(chi2 + 1e-9, 4) + 0.0 AS chi2,
           round(sqrt(chi2 / (n * (least(r, c) - 1))) + 1e-9, 4) + 0.0
               AS cramers_v
    FROM chi
    """,
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for order priority × order status: the NORMALIZED
    association strength ([0, 1], comparable across tables and sample
    sizes) that raw chi-square (q_stats_chisq) is not — the effect
    size every categorical-drift dashboard actually wants, since chi²
    alone grows linearly with row count.

    Shape: one hash agg to the ≤ r×c contingency table (zero-filled
    so expected counts are right even for absent cells), marginals by
    windows over that tiny frame, one scalar row out.

    NULL categories are bucketed EXPLICITLY (the audit_nulls finding
    of round 10): a NULL key survives groupBy as its own group but the
    zero-fill equi-join on ["a", "b"] drops it (NULL = NULL is false),
    losing its counts and zeroing that row's marginal — which then
    divides the expected-count denominator by zero under ANSI.  A
    sentinel label keeps NULL a first-class contingency cell; clean
    fixtures carry no NULL keys, so the oracle hash is unchanged."""
    o = table(spark, sf_dir, "orders")
    ct = o.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("(null)")).alias("a"),
        F.coalesce(F.col("o_orderstatus"), F.lit("(null)")).alias("b"),
    ).agg(F.count("*").alias("o"))
    ra = ct.select("a").distinct()
    rb = ct.select("b").distinct()
    full_ct = (
        ra.crossJoin(F.broadcast(rb))
        .join(ct, ["a", "b"], "left")
        .select("a", "b", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    marg = full_ct.select(
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("ra"),
        F.sum("o").over(Window.partitionBy("b")).alias("cb"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),  # whole frame = the tiny contingency table
    )
    exp = F.col("ra") * F.col("cb") / (1.0 * F.col("n"))
    chi = marg.agg(
        F.first("n").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
        F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        (F.round(F.col("chi2") + F.lit(1e-9), 4) + F.lit(0.0)).alias("chi2"),
        (
            # try_divide: a 1-row table degenerates least(r,c)−1 to 0
            # (audit_empty r10) — V is undefined there, emit NULL.
            F.round(
                F.sqrt(
                    F.try_divide(
                        F.col("chi2"),
                        F.col("n") * (F.least(F.col("r"), F.col("c")) - 1),
                    )
                )
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("cramers_v"),
    )


@register(
    "q_stats_welch",
    oracle="""
    WITH g AS (
        SELECT event_type,
               count(*) AS n,
               sum(value) AS s,
               sum(CAST(value AS DOUBLE) * value) AS ss
        FROM events GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n, s / (1.0 * n) AS mean,
               (ss - s * s / (1.0 * n)) / (n - 1.0) AS var
        FROM g
    ),
    w AS (
        SELECT event_type, n, mean, n / var AS wi FROM m
    ),
    tot AS (
        SELECT count(*) AS k, sum(wi) AS sw,
               sum(wi * mean) / sum(wi) AS mstar
        FROM w
    ),
    parts AS (
        SELECT sum(w.wi * (w.mean - tot.mstar) * (w.mean - tot.mstar)) AS num,
               sum((1.0 - w.wi / tot.sw) * (1.0 - w.wi / tot.sw)
                   / (w.n - 1.0)) AS lam,
               any_value(tot.k) AS k,
               sum(w.n) AS n
        FROM w CROSS JOIN tot
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n AS BIGINT) AS n,
           round((num / (k - 1.0))
                 / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * lam)
                 + 1e-9, 4) + 0.0 AS f_welch,
           round((k * k - 1.0) / (3.0 * lam) + 1e-9, 4) + 0.0 AS df2
    FROM parts
    """,
)
def q_stats_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's ANOVA across event types: the unequal-variance one-way
    F (weights w_i = n_i/s_i², Welch-Satterthwaite df₂) — the modern
    default the classic F (q_stats_anova) should be replaced by when
    Levene (q_stats_levene) rejects variance homogeneity; the three
    queries form the complete omnibus-test decision path.

    Shape: ONE raw-moment pass over the fact table (n, Σx, Σx² per
    group — the q_stats_anova recipe exactly), then closed-form Welch
    algebra on the k-row frame; every post-agg frame is ≤ k rows."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value").cast("double") * F.col("value")).alias("ss"),
    )
    # try_divide throughout: a 1-row group degenerates n−1 to 0, a
    # constant group degenerates var to 0, and a single-group input
    # degenerates k−1 / k²−1 to 0 — the undefined statistic is NULL,
    # never an ANSI DIVIDE_BY_ZERO pager (the audit_empty recipe;
    # value-identical to plain `/` on every non-degenerate input, so
    # the oracle hash is unchanged).
    m = g.select(
        "event_type",
        "n",
        (F.col("s") / (1.0 * F.col("n"))).alias("mean"),
        F.try_divide(
            F.col("ss") - F.col("s") * F.col("s") / (1.0 * F.col("n")),
            F.col("n") - 1.0,
        ).alias("var"),
    )
    w = m.select(
        "event_type",
        "n",
        "mean",
        F.try_divide(F.col("n"), F.col("var")).alias("wi"),
    )
    tot = w.agg(
        F.count("*").alias("k"),
        F.sum("wi").alias("sw"),
        F.try_divide(F.sum(F.col("wi") * F.col("mean")), F.sum("wi")).alias(
            "mstar"
        ),
    )
    parts = (
        w.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("wi")
                * (F.col("mean") - F.col("mstar"))
                * (F.col("mean") - F.col("mstar"))
            ).alias("num"),
            F.sum(
                F.try_divide(
                    (1.0 - F.try_divide(F.col("wi"), F.col("sw")))
                    * (1.0 - F.try_divide(F.col("wi"), F.col("sw"))),
                    F.col("n") - 1.0,
                )
            ).alias("lam"),
            F.first("k").alias("k"),
            F.sum("n").alias("n"),
        )
    )
    return parts.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n"),
        (
            F.round(
                F.try_divide(
                    F.try_divide(F.col("num"), F.col("k") - 1.0),
                    1.0
                    + 2.0
                    * F.try_divide(
                        F.col("k") - 2.0, F.col("k") * F.col("k") - 1.0
                    )
                    * F.col("lam"),
                )
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("f_welch"),
        (
            F.round(
                F.try_divide(
                    F.col("k") * F.col("k") - 1.0, 3.0 * F.col("lam")
                )
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("df2"),
    )
