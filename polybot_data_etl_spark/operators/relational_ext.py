"""Relational extensions beyond the SURVEY.md §2 core: pivot/unpivot
reshaping, correlated subqueries (Catalyst decorrelation), and the
SQL-text entry surface.

Reference provenance: the reference expressed analytics as SQL text
under ``src/etl/sql/`` [REC src/etl/.DS_Store:4992]; this module is the
SQL-surface counterpart of the builder-function queries — q_sql_report
runs verbatim Spark SQL over the registered table views, and the
subquery operators exercise the rewrite rules (scalar-subquery
decorrelation, IN→semi-join) a SQL-first user depends on.

Scale posture: pivot with an explicit value list is a single hash-agg
(one shuffle, map-side combined — never the two-pass distinct-discovery
pivot); unpivot is a narrow row-expansion; both subqueries decorrelate
to broadcast/shuffle equi-joins (asserted: no CartesianProduct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import register_views, table
from polybot_data_etl_spark.registry import register

# Closed event-type domain (FIXTURES.md §events, verified on fixtures).
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PACK_BUCKETS = 32  # hash-range shards per language for the two-pass cumsum


@register(
    "q_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
        for t in _EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event counts, one column per event
    type.  The value list is explicit, so Spark plans ONE aggregation
    pass — pivot without it first runs a distinct scan to discover
    columns, an extra full pass at 100 TB."""
    e = table(spark, sf_dir, "events")
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    renamed = pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )
    return renamed


@register(
    "q_unpivot",
    oracle="""
    WITH u AS (
        SELECT l_linestatus, 'quantity' AS measure, l_quantity AS value
        FROM lineitem
        UNION ALL
        SELECT l_linestatus, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_linestatus, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_linestatus, 'tax', l_tax FROM lineitem
    )
    SELECT l_linestatus, measure,
           count(*) AS n,
           round(sum(value), 2) AS total,
           round(avg(value), 4) AS mean
    FROM u
    GROUP BY l_linestatus, measure
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long): the four lineitem measures to
    (measure, value) rows, then a per-(status, measure) profile — the
    standard shape for computing stats over many columns in one pass."""
    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_linestatus"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    ).withColumn("measure", F.expr("substring(measure, 3)"))
    return long.groupBy("l_linestatus", "measure").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.avg("value"), 4).alias("mean"),
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT p_partkey, p_brand,
           round(p_retailprice, 2) AS price
    FROM part p
    WHERE p_retailprice > 1.04 * (
        SELECT avg(p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: parts priced >4% above their brand's
    average.  Catalyst decorrelates this into an aggregate + equi-join
    (RewriteCorrelatedScalarSubquery) — no per-row re-execution, which
    is the difference between O(n) and O(n²) at scale."""
    register_views(spark, sf_dir, ["part"])
    return spark.sql(
        """
        SELECT p_partkey, p_brand,
               round(p_retailprice, 2) AS price
        FROM part p
        WHERE p_retailprice > 1.04 * (
            SELECT avg(p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        """
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders
        WHERE o_totalprice > 300000
    )
    AND c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries through the SQL surface — rewritten by
    Catalyst to left-semi / null-aware left-anti joins.  (The fixture
    keys are non-null, so NOT IN's three-valued-logic trap does not
    change the result; both engines agree.)"""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_custkey IN (
            SELECT o_custkey FROM orders
            WHERE o_totalprice > 300000
        )
        AND c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
        """
    )


_Q5_SQL = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    JOIN nation    ON c_nationkey = n_nationkey
    JOIN region    ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
"""


@register("q_sql_report", oracle=_Q5_SQL)
def q_sql_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped revenue report run as VERBATIM SQL text over the
    registered views — the direct successor of the reference's sql/
    directory: the same string runs on Spark and (as the oracle) on
    DuckDB.  Catalyst broadcast-joins the three dimension tables and
    shuffles only the two fact tables."""
    register_views(
        spark, sf_dir, ["customer", "orders", "lineitem", "nation", "region"]
    )
    return spark.sql(_Q5_SQL)


@register(
    "q_sample_stratified",
    oracle="""
    SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
    FROM (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY (c_custkey * 2654435761) % 1000000007, c_custkey
               ) AS rn
        FROM customer
    ) WHERE rn <= 20
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 customers per
    market segment, picked by a multiplicative-hash shuffle order
    (portable integer arithmetic — the same sample on any engine, which
    `TABLESAMPLE`/`rand()` cannot give).  One window per stratum; at
    100 TB the same shape samples per partition key without a global
    sort."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        (F.col("c_custkey") * F.lit(2654435761)) % F.lit(1000000007),
        F.col("c_custkey"),
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        )
    )


@register(
    "q_sample_weighted",
    oracle="""
    SELECT lang, doc_id, n_chars
    FROM (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ((doc_id * 2654435761) % 1000000007)::DOUBLE
                            / n_chars,
                            doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling: 20 docs per language, selection
    probability increasing with document length — the mix-sampling
    primitive a training-data pipeline uses to up-weight high-value
    strata without a true RNG.  Each doc gets priority
    hash(doc_id)/weight (multiplicative-hash uniform over the weight);
    the per-stratum k smallest win, so a doc with 2x the weight is ~2x
    as likely to make the cut — the hash-priority analogue of
    A-ES/exponential-race sampling kept in engine-portable arithmetic
    (int-over-int double division; no exp/ln whose libm differs across
    engines).  Same shape as q_sample_stratified: one window per
    stratum, no global sort."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    priority = (
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)).cast(
            "double"
        )
        / F.col("n_chars")
    )
    w = Window.partitionBy("lang").orderBy(priority, F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "q_cdc_compact",
    oracle="""
    SELECT user_id, event_id, ts, event_type, round(value, 2) AS value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: the latest record per key (newest ts,
    event_id as the total-order tiebreak) — the CDC dedup step that
    turns an upsert stream into current state before a keyed merge,
    and the batch twin of the streaming dropDuplicates path.

    One window keyed on the high-cardinality user_id; at 100 TB this is
    the standard shuffle-once compaction (and with the lake bucketed by
    user_id it runs exchange-free, per tests/test_bucketing.py)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "q_split_assign",
    oracle="""
    SELECT lang, split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM (
        SELECT lang, n_chars,
               CASE WHEN (doc_id * 2654435761) % 1000000007 % 100 < 80
                    THEN 'train'
                    WHEN (doc_id * 2654435761) % 1000000007 % 100 < 90
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY lang, split
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by multiplicative
    hash of the stable doc key, reported as per-(language, split) doc
    and char counts — the reproducible holdout assignment every
    training pipeline needs.  Hash-based (never random()): the split is
    a pure function of doc_id, so re-runs, backfills, and incremental
    appends land every doc in the same split with no stored state.
    Shape: one narrow projection + one map-side-combined hash agg over
    a ~15-group key space — no window, no join; trivially linear at
    100 TB."""
    d = table(spark, sf_dir, "documents")
    pct = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007) % 100
    split = (
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


@register(
    "q_pack_greedy",
    oracle="""
    SELECT lang, bin_id,
           count(*) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS n_tokens
    FROM (
        SELECT lang, tokens,
               CAST((cum - tokens) // 512 AS BIGINT) AS bin_id
        FROM (
            SELECT lang, tokens,
                   sum(tokens) OVER (
                       PARTITION BY lang
                       ORDER BY (doc_id * 2654435761) % 1000000007, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM (
                SELECT lang, doc_id, (n_chars + 3) // 4 AS tokens
                FROM documents
            )
        )
    )
    GROUP BY lang, bin_id
    """,
)
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs are laid out in a deterministic
    hash-shuffled order and cut into 512-token training bins by prefix
    sum — bin k holds the docs whose cumulative token count starts in
    [512k, 512(k+1)).  Tokens are the ceil(chars/4) estimate (the
    standard BPE rule of thumb); the output is the per-bin fill
    manifest (doc count + real token sum) a packed-pretraining loader
    consumes.  A boundary-spanning doc stays in the bin where its
    prefix starts — prefix packing, the streaming-friendly greedy
    variant that needs one pass and no bin state.

    Scale shape (two-pass bucket-offset prefix sum, the
    q_win_dist_scaled recipe): a single-``lang`` window would sort an
    entire language's corpus in one task at 100 TB, so the hash order
    is cut into ``_PACK_BUCKETS`` contiguous ranges of the portable
    shuffle key; a (lang, bucket) window computes bucket-LOCAL running
    sums in parallel, per-bucket totals (≤ _PACK_BUCKETS rows per lang)
    prefix-sum into carry-in offsets, and the global cumulative = offset
    + local.  Bin ids are unchanged because the order key is the same
    portable hash."""
    from pyspark.sql import Window

    n_buckets = _PACK_BUCKETS
    bucket_width = 1000000007 // n_buckets + 1
    d = table(spark, sf_dir, "documents")
    tokens = F.floor((F.col("n_chars") + 3) / 4)
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)
    staged = d.select(
        "lang", "doc_id", tokens.alias("tokens"), h.alias("__h")
    ).withColumn("__bkt", (F.col("__h") / F.lit(bucket_width)).cast("int"))
    w_local = (
        Window.partitionBy("lang", "__bkt")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = staged.withColumn("__lcum", F.sum("tokens").over(w_local))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        staged.groupBy("lang", "__bkt")
        .agg(F.sum("tokens").alias("__bt"))
        .withColumn(
            "__off", F.coalesce(F.sum("__bt").over(w_off), F.lit(0))
        )
        .select("lang", "__bkt", "__off")
    )
    return (
        local.join(F.broadcast(offsets), ["lang", "__bkt"])
        .withColumn("cum", F.col("__off") + F.col("__lcum"))
        .select(
            "lang",
            "tokens",
            F.floor((F.col("cum") - F.col("tokens")) / 512).alias("bin_id"),
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("n_tokens"),
        )
    )


@register(
    "q_scd2_snapshot",
    oracle="""
    WITH ch AS (
        SELECT user_id, ts AS valid_from, value,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events) e
    )
    SELECT user_id, valid_from, round(value, 2) AS value_at
    FROM ch
    WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
    """,
)
def q_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) query over a changelog: treat each user's
    event stream as slowly-changing attribute versions (valid_from =
    event time, valid_to = next event's time) and reconstruct the state
    as of 2024-01-15 — the time-travel read every SCD-2 dimension
    serves.  Complements the managed-table SCD-2 *writer*
    (sources/repository.py, SURVEY §2 #116): same semantics derived
    on-the-fly from a raw changelog, no stored dimension needed.

    Shape: one lead() window per user (high-cardinality key, single
    shuffle) and a filter — the interval containment is resolved from
    the window, never via a range join.  At 100 TB with events
    partitioned by date(ts), the `valid_from <= T` predicate prunes all
    partitions after the snapshot date at the file level."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    t = F.expr("TIMESTAMP_NTZ '2024-01-15 00:00:00'")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = e.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        "value",
        F.lead("ts").over(w).alias("valid_to"),
    )
    return ch.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "valid_from", F.round("value", 2).alias("value_at"))


_RECURSIVE_SQL = """
WITH RECURSIVE chain(c_custkey, node, depth) AS (
    SELECT c_custkey, c_custkey AS node, 0 AS depth
    FROM customer WHERE c_custkey <= 500
    UNION ALL
    SELECT c_custkey, CAST(floor(node / 10) AS BIGINT) AS node,
           depth + 1 AS depth
    FROM chain WHERE node > 0
)
SELECT c_custkey, max(depth) AS depth_to_root,
       count(*) AS chain_len
FROM chain
GROUP BY c_custkey
"""


@register("q_sql_recursive", oracle=_RECURSIVE_SQL)
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (`WITH RECURSIVE`, new in Spark 4): walk each
    customer key up its decimal-trie ancestry (node → node/10) to the
    root and measure the chain — the hierarchy/bill-of-materials query
    shape (org charts, category trees, ownership graphs).

    Iteration semantics are the SQL-standard UNION ALL fixpoint and
    match DuckDB exactly, so the oracle is the VERBATIM same string —
    the strongest possible parity statement for the surface.  Depth is
    bounded by the key width (≤ 9 here); at 100 TB the same query
    iterates breadth-first with one shuffle per level, exactly like
    the hand-rolled superstep loop in connected components, but
    planner-managed.
    """
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(_RECURSIVE_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
       round(t.o_totalprice, 2) AS top_price
FROM customer c,
LATERAL (
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) t
WHERE c.c_custkey <= 300
"""


@register("q_sql_lateral", oracle=_LATERAL_SQL)
def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer row drives a top-2
    probe into its own orders — the SQL-surface twin of the window
    top-k (#32), kept verbatim-identical on both engines.

    Catalyst decorrelates the LIMIT-bearing lateral into a ranked
    window join rather than executing per-row probes, so the plan is
    the same shuffle-once shape as q_win_topk_group — worth having as
    a registered query precisely because users write this form and an
    engine that executed it row-at-a-time would be unusable at scale.
    """
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_LATERAL_SQL)


_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice, o_orderdate
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_custkey
    ORDER BY o_orderdate DESC, o_orderkey
) = 1
"""


@register("q_sql_qualify", oracle=_QUALIFY_SQL)
def q_sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-style latest-row-per-key dedup: each customer's most
    recent order, expressed as a window filter (the "keep latest
    snapshot" idiom every CDC/warehouse pipeline runs).

    Spark 4 has no QUALIFY keyword, so the engine expresses the
    identical semantics as row_number-over-window → filter — which is
    exactly what QUALIFY desugars to in engines that have it (the
    oracle runs the sugar form verbatim). Shape: one hash-partitioned
    shuffle on the PARTITION BY key, per-group sort, no join; at 100 TB
    the o_custkey key is high-cardinality so the window parallelizes
    fully."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderdate",
        )
    )


@register(
    "q_sample_reservoir",
    oracle="""
    SELECT lang, pos, doc_id, n_chars
    FROM (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS pos
        FROM documents
    )
    WHERE pos <= 20
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample: exactly k=20 documents per
    language, chosen by md5(doc_id) order — the reproducible
    distributed reservoir (same k docs on every engine, every run,
    every cluster size; md5 uniformity makes it an unbiased uniform
    sample, unlike LIMIT's partition-order bias).  The eval-set /
    human-review draw every curation pipeline needs.

    Scale shape — distributed top-k, never a whole-language sort: pass
    1 takes the k smallest hashes per (lang, shard-of-32) so each task
    sorts 1/32 of a language; pass 2 merges the ≤32·k survivors per
    language (a few-hundred-row frame at ANY corpus size) into the
    final k.  Equivalent to the single-window plan (the global top-k
    is contained in the shard-local top-ks) — the oracle states the
    simple form, the engine runs the sharded one."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    k = 20
    local_w = Window.partitionBy(
        "lang", F.pmod(F.hash("doc_id"), F.lit(32))
    ).orderBy("h", "doc_id")
    survivors = d.withColumn(
        "lrn", F.row_number().over(local_w)
    ).filter(F.col("lrn") <= k)
    final_w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.withColumn("pos", F.row_number().over(final_w))
        .filter(F.col("pos") <= k)
        .select("lang", "pos", "doc_id", "n_chars")
    )


_SYS_K = 20   # systematic stride
_SYS_R = 7    # stride offset (any fixed residue)


@register(
    "q_sample_systematic",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN doc_id % {_SYS_K} = {_SYS_R}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           round(sum(CASE WHEN doc_id % {_SYS_K} = {_SYS_R}
                          THEN 1 ELSE 0 END) * 1e0 / count(*) + 1e-9, 4)
               AS rate
    FROM documents GROUP BY lang
    """,
)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (stride) sampling: keep rows with
    doc_id ≡ 7 (mod 20) — the auditable deterministic 5% sample used
    for eval holdouts and quick-look QA, with the per-language realized
    rate alongside the population count to show the stride is unbiased
    across strata.

    Unlike TABLESAMPLE/rand() the membership is a pure function of the
    key: re-runs, engines, and partitionings all agree, and the sample
    can be reproduced years later from the id alone.  Shape: the
    sample predicate is a codegen'd scan-side expression — ZERO
    shuffle to take the sample at 100 TB (contrast q_sample_reservoir,
    which needs the shuffle for exact-k) — and this summary is one
    map-side-combined agg over |langs| groups."""
    d = table(spark, sf_dir, "documents")
    hit = F.when(F.col("doc_id") % _SYS_K == _SYS_R, 1).otherwise(0)
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(hit).cast("bigint").alias("n_sampled"),
        F.round(F.sum(hit) / F.count("*") + F.lit(1e-9), 4).alias("rate"),
    )


@register(
    "q_sql_window_clause",
    oracle="""
    SELECT user_id, event_id,
           round(sum(TRY_CAST(round(value * 100, 0) AS BIGINT))
                 OVER w_run / 1e2, 2) AS run_total,
           cast(rank() OVER w_rank AS BIGINT) AS value_rank,
           round(avg(TRY_CAST(round(value * 100, 0) AS BIGINT))
                 OVER w_run / 1e2 + 1e-9, 4) AS run_avg
    FROM (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events)
    WHERE user_id < 50
    WINDOW w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_rank AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
)
def q_sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-WINDOW SQL surface (`WINDOW w AS (...)`): two windows
    declared once and referenced by name — the ANSI feature that keeps
    multi-window reports readable, and a parser-level surface the
    DataFrame API can't express (its windows are always inline).  Both
    engines run the SAME window text, so this doubles as a dialect-
    compatibility pin for the clause.

    Determinism: both frames use total orders ((ts, event_id) and
    (value DESC, event_id)) and rank() has no ties; the running sum
    aggregates EXACT cents (bigint) because windowed-sum internals
    differ across engines (DuckDB's segment-tree accumulation vs
    Spark's sequential fold — measured to diverge in last-ulp
    positions on raw doubles); money rounds at 2, the avg at 4.

    Shape: both windows share the user_id partition key, so Catalyst
    plans ONE user_id exchange feeding two Window operators (sorted
    per frame) — high-cardinality partitions, no hot task."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events_wc")
    return spark.sql(
        """
        SELECT user_id, event_id,
               round(sum(TRY_CAST(round(value * 100, 0) AS BIGINT))
                 OVER w_run / 1e2, 2) AS run_total,
               cast(rank() OVER w_rank AS BIGINT) AS value_rank,
               round(avg(TRY_CAST(round(value * 100, 0) AS BIGINT))
                 OVER w_run / 1e2 + 1e-9, 4) AS run_avg
        FROM events_wc
        WHERE user_id < 50
        WINDOW w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_rank AS (PARTITION BY user_id ORDER BY value DESC, event_id)
        """
    )


@register(
    "q_fn_surrogate_key",
    oracle="""
    SELECT rowid, event_id FROM (
        SELECT event_id,
               row_number() OVER (ORDER BY ts, event_id) AS rowid
        FROM events
    ) WHERE rowid % 1000 = 1
    """,
)
def q_fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable global surrogate-key assignment: dense 1-based row ids
    over the (ts, event_id) total order — the deterministic
    zipWithIndex a warehouse load uses to mint keys (unlike
    monotonically_increasing_id, which is partition-layout-dependent
    and non-dense).  Emits the every-1000th sample of the assignment
    so the gate hash-checks id↔row binding at any scale without
    shipping the whole table.

    Scale shape (the two-pass bucket-offset prefix, same recipe as
    q_mix_budget): a single unpartitioned row_number would sort the
    world in one task, so (1) a window per day bucket computes
    bucket-LOCAL dense ranks in parallel — event time is the natural
    range-partitioner of an event lake; (2) per-day counts (a bounded
    frame) prefix-sum into carry-in offsets, the only global window
    running over that tiny summary.  Global id = offset + local rank,
    identical to the one-window form because days are contiguous
    ranges of the (ts, event_id) order."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    staged = e.select(
        "event_id", "ts", F.date_trunc("day", "ts").alias("__day")
    )
    w_local = Window.partitionBy("__day").orderBy("ts", "event_id")
    local = staged.withColumn(
        "__rn", F.row_number().over(w_local).cast("long")
    )
    counts = staged.groupBy("__day").agg(F.count("*").alias("__n"))
    w_off = Window.orderBy("__day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).select("__day", "__off")
    return (
        local.join(F.broadcast(offsets), "__day")
        .select(
            (F.col("__off") + F.col("__rn")).alias("rowid"), "event_id"
        )
        .filter(F.col("rowid") % 1000 == 1)
    )


@register(
    "q_sample_balanced",
    oracle="""
    WITH counts AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    k AS (SELECT min(n) AS k FROM counts),
    ranked AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY (event_id * 2654435761) % 1000000007, event_id
               ) AS rn
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sampled,
           round(sum(value), 2) AS value_total
    FROM ranked CROSS JOIN k
    WHERE rn <= k.k
    GROUP BY event_type
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event type keeps exactly
    min-class-count rows, chosen by a deterministic hash shuffle — the
    majority-class undersampler that fixes imbalance before training
    (the downsampling mirror of q_mix_upsample), reproducible across
    runs/engines/partitionings unlike TABLESAMPLE.

    Shape: a k-row class-count agg → 1-row min broadcast; the per-class
    rank is a window on the high-cardinality hash order (parallel per
    class; the two-pass bucket-offset recipe applies if one class owns
    a task at 100 TB); the verification agg emits k rows with exact
    cents sums."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))
    k = counts.agg(F.min("n").alias("k"))
    w = Window.partitionBy("event_type").orderBy(
        (F.col("event_id") * 2654435761) % 1000000007, "event_id"
    )
    ranked = e.select(
        "event_type", "value", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("value_total"),
        )
    )


_NEYMAN_N = 1000


@register(
    "q_sample_neyman",
    oracle=f"""
    WITH m AS (
        SELECT event_type, count(*) AS nh,
               sum(value) AS sx, sum(value * value) AS sxx
        FROM events GROUP BY event_type
    ),
    s AS (
        SELECT event_type, nh,
               round(sqrt(sxx / nh - (sx / nh) * (sx / nh))
                     + 1e-11, 6) AS sigma
        FROM m
    ),
    w AS (
        SELECT s.*, nh * sigma AS wt,
               sum(nh * sigma) OVER () AS wtot,
               sum(nh) OVER () AS ntot
        FROM s
    ),
    q AS (
        SELECT event_type, nh, sigma,
               {_NEYMAN_N} * wt / wtot AS quota,
               floor({_NEYMAN_N} * wt / wtot) AS base,
               round({_NEYMAN_N} * wt / wtot
                     - floor({_NEYMAN_N} * wt / wtot) + 1e-11, 6) AS rem,
               ntot
        FROM w
    ),
    r AS (
        SELECT q.*,
               row_number() OVER (ORDER BY rem DESC, event_type) AS rnk,
               {_NEYMAN_N} - sum(base) OVER () AS leftover
        FROM q
    )
    SELECT event_type, CAST(nh AS BIGINT) AS n_stratum,
           round(sigma + 1e-9, 4) AS sigma,
           CAST(round({_NEYMAN_N} * nh / CAST(ntot AS DOUBLE))
                AS BIGINT) AS proportional_n,
           CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS neyman_n,
           CAST((base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)
                > round({_NEYMAN_N} * nh / CAST(ntot AS DOUBLE))
                AS BOOLEAN) AS oversampled
    FROM r ORDER BY event_type
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation: split a fixed
    budget of 1000 draws across event-type strata ∝ Nₕ·σₕ (big AND
    volatile strata get more), integerized by the deterministic
    largest-remainder method, next to the naive proportional
    allocation — the sampling-theory upgrade to q_sample_stratified
    that minimizes the estimator variance for the same budget (a
    near-constant stratum needs almost no samples no matter how big).

    Determinism: σ 6-dp from raw moments, remainders 6-dp before the
    largest-remainder ranking, event_type tiebreak.  Shape: one
    moment agg → all allocation algebra on the k-row stratum frame
    (windows over ≤k rows)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    v = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("nh"),
        F.sum(v).alias("sx"),
        F.sum(v * v).alias("sxx"),
    )
    nh = F.col("nh")
    sigma6 = F.round(
        F.sqrt(F.col("sxx") / nh - (F.col("sx") / nh) * (F.col("sx") / nh))
        + F.lit(1e-11),
        6,
    )
    s = m.select("event_type", nh, sigma6.alias("sigma"))
    wa = Window.partitionBy()
    w = s.select(
        "*",
        (nh * F.col("sigma")).alias("wt"),
        F.sum(nh * F.col("sigma")).over(wa).alias("wtot"),
        F.sum(nh).over(wa).alias("ntot"),
    )
    # try_divide: if every stratum has zero variance (e.g. singleton
    # strata) the Neyman weights sum to 0 and the allocation is
    # undefined — NULL, not an ANSI crash (round-6 audit)
    quota = F.try_divide(_NEYMAN_N * F.col("wt"), F.col("wtot"))
    q = w.select(
        "event_type",
        "nh",
        "sigma",
        F.floor(quota).alias("base"),
        F.round(quota - F.floor(quota) + F.lit(1e-11), 6).alias("rem"),
        "ntot",
    )
    r = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("event_type")))
        .alias("rnk"),
        (_NEYMAN_N - F.sum("base").over(wa)).alias("leftover"),
    )
    ney = F.col("base") + F.when(
        F.col("rnk") <= F.col("leftover"), 1
    ).otherwise(0)
    prop = F.round(_NEYMAN_N * F.col("nh") / F.col("ntot").cast("double"))
    return r.select(
        "event_type",
        F.col("nh").cast("bigint").alias("n_stratum"),
        F.round(F.col("sigma") + F.lit(1e-9), 4).alias("sigma"),
        prop.cast("bigint").alias("proportional_n"),
        ney.cast("bigint").alias("neyman_n"),
        (ney > prop).alias("oversampled"),
    ).orderBy("event_type")


# --- Round-10 registrations (formerly operators/staged_r10.py, the
# [STAGED r10] batch #434-450): moved into their family modules at
# the registration flip (VERDICT r9 §Next-round #2). ---


@register(
    "q_sample_bernoulli_hash",
    oracle="""
    WITH flagged AS (
        SELECT event_type, value,
               ((event_id * 1103515245 + 12345) % 2147483648) % 1000 < 100
                   AS sampled
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           round(sum(CASE WHEN sampled THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-12, 4) + 0.0 AS rate,
           round(avg(CASE WHEN sampled THEN value END) + 1e-9, 2) + 0.0
               AS avg_value_sample,
           round(avg(value) + 1e-9, 2) + 0.0 AS avg_value_all
    FROM flagged
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-Bernoulli sampling audit (target rate 10%):
    membership is a pure function of the row key (an LCG step on
    event_id), so the sample is STABLE across reruns, engines, and
    partitionings — the property `rand()`-based sampling lacks and the
    reason production pipelines sample by key hash.  Output: realized
    rate and the sample-vs-population mean of `value` per event type
    (the estimator-quality check).

    Shape: one narrow projection (the LCG is two integer ops, fully
    codegen) and one group-by — embarrassingly parallel, no shuffle
    before the 5-group aggregate.  The same predicate is the 100 TB
    sampling pushdown: it rides the scan."""
    ev = table(spark, sf_dir, "events")
    u = (F.col("event_id").cast("long") * 1103515245 + 12345) % 2147483648
    flagged = ev.select(
        "event_type", "value", ((u % 1000) < 100).alias("sampled")
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_sampled"),
            (
                F.round(
                    F.sum(F.when(F.col("sampled"), 1).otherwise(0))
                    / F.count("*").cast("double")
                    + F.lit(1e-12),
                    4,
                )
                + F.lit(0.0)
            ).alias("rate"),
            (
                F.round(
                    F.avg(F.when(F.col("sampled"), F.col("value")))
                    + F.lit(1e-9),
                    2,
                )
                + F.lit(0.0)
            ).alias("avg_value_sample"),
            (F.round(F.avg("value") + F.lit(1e-9), 2) + F.lit(0.0)).alias(
                "avg_value_all"
            ),
        )
        .orderBy("event_type")
    )
