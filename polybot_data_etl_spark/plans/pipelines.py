"""Composed end-to-end pipeline queries: the full curation flow a
training-data user runs, assembled from the engine's own operators —
proof that the pieces compose (the reference's `pipelines/` stage,
SURVEY.md §0.1 [REC src/etl/.DS_Store:4504]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.registry import register

_MIN_TOKENS = 5
_MAX_CHARS = 100_000


def _curate_oracle() -> str:
    from polybot_data_etl_spark.functions.dedup import _NGRAM_ORACLE

    return f"""
    WITH RECURSIVE pairs AS ({_NGRAM_ORACLE}),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           len(string_split(lower(d.text), ' ')) AS n_tokens
    FROM documents d JOIN clusters c USING (doc_id)
    WHERE c.cluster_id = d.doc_id
      AND len(string_split(lower(d.text), ' ')) >= {_MIN_TOKENS}
      AND d.n_chars <= {_MAX_CHARS}
    """


@register("q_pipeline_curate", oracle=_curate_oracle())
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline: near-dup cluster assignment →
    canonical keep-list (a doc survives iff it is its cluster's min
    doc_id) → quality gate (token-count floor, length ceiling) →
    curated corpus stats.  One registered query running three of the
    engine's operator families back-to-back, hash-checked end-to-end
    against the equivalent recursive-CTE SQL.

    Scale shape: the cluster stage runs label propagation over only the
    edge-endpoint nodes (``component_labels``); the keep-list is then
    expressed as an ANTI join against the non-canonical set (nodes
    whose component min < themselves) — a frame bounded by the near-dup
    pair count, so the join side is tiny and broadcastable at any
    corpus size, vs. a full one-row-per-doc cluster table; the quality
    gate is a narrow filter that pushes into the scan."""
    from polybot_data_etl_spark.functions.dedup import (
        ngram_component_labels,
    )

    d = table(spark, sf_dir, "documents")
    drop = (
        ngram_component_labels(spark, sf_dir)
        .filter(F.col("lbl") < F.col("node"))
        .select(F.col("node").alias("doc_id"))
    )
    n_tokens = F.size(F.split(F.lower(F.col("text")), " "))
    return (
        d.join(drop, "doc_id", "left_anti")
        .withColumn("n_tokens", n_tokens.cast("long"))
        .filter(
            (F.col("n_tokens") >= _MIN_TOKENS)
            & (F.col("n_chars") <= _MAX_CHARS)
        )
        .select("doc_id", "lang", "n_chars", "n_tokens")
    )


_MIX_TOKEN_BUDGET = 2_000  # per-language token budget for the mix
_MIX_BUCKETS = 32  # hash-range shards per language for the two-pass cumsum


@register(
    "q_mix_budget",
    oracle=f"""
    SELECT lang, doc_id, n_tokens, cum_tokens
    FROM (
        SELECT lang, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 1000000007, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM (
            SELECT lang, doc_id,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                       AS n_tokens
            FROM documents
        )
    ) WHERE cum_tokens <= {_MIX_TOKEN_BUDGET}
    """,
)
def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: fill each language's slice of the
    training mix up to a fixed token budget, taking documents in a
    deterministic hash-shuffled order — the downsampling step that turns
    per-source corpora into a mixture with prescribed token shares.

    Scale shape (the two-pass bucket-offset prefix sum, same recipe as
    q_win_dist_scaled's ranks): a single-``lang`` window would hand one
    task an entire language's corpus at 100 TB, so the hash order is cut
    into ``_MIX_BUCKETS`` contiguous ranges of the portable shuffle key
    ``__h`` (bucket = __h div width — a pure function of the row, so
    every plan branch recomputes it identically):
      1. a window per (lang, bkt) computes bucket-LOCAL running token
         sums in parallel — each task sorts only its own hash range;
      2. per-bucket totals (≤ _MIX_BUCKETS rows per lang) get
         prefix-summed into carry-in offsets — the only per-lang-wide
         window runs over that tiny summary, never the data.
    Global running total = offset + local running total; the budget
    filter then keeps exactly the same prefix of the hash order as the
    single-window form.  All integer arithmetic, no RNG, so the same
    mix materializes on any engine and any partitioning."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    bucket_width = 1000000007 // _MIX_BUCKETS + 1
    staged = d.select(
        "lang",
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " "))
        .cast("long")
        .alias("n_tokens"),
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)).alias(
            "__h"
        ),
    ).withColumn("__bkt", (F.col("__h") / F.lit(bucket_width)).cast("int"))
    w_local = (
        Window.partitionBy("lang", "__bkt")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = staged.withColumn("__lcum", F.sum("n_tokens").over(w_local))
    counts = staged.groupBy("lang", "__bkt").agg(
        F.sum("n_tokens").alias("__bkt_tokens")
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__bkt_tokens").over(w_off), F.lit(0))
    ).select("lang", "__bkt", "__off")
    return (
        local.join(F.broadcast(offsets), ["lang", "__bkt"])
        .withColumn("cum_tokens", F.col("__off") + F.col("__lcum"))
        .filter(F.col("cum_tokens") <= _MIX_TOKEN_BUDGET)
        .select("lang", "doc_id", "n_tokens", "cum_tokens")
    )


_MIX_TAU = 0.7  # temperature exponent for source re-weighting


@register(
    "q_mix_temperature",
    oracle=f"""
    WITH per_src AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens ** {_MIX_TAU}) AS z FROM per_src)
    SELECT source, n_docs, n_tokens,
           round(n_tokens ** {_MIX_TAU} / z + 1e-9, 4) AS weight
    FROM per_src CROSS JOIN tot
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: re-weight each source's share
    of the training mix by (token count)^τ, τ=0.7 — the standard
    up-weighting of small high-quality sources / down-weighting of
    dominant crawl data when composing a pretraining mixture.

    Both engines compute pow(n, 0.7) from the same integer token
    counts and normalize by the same sum; the +1e-9 nudge keeps libm
    last-ulp pow/sum differences off the 4-decimal rounding boundary.
    Shape: one map-side-combined agg per source (the token count sums
    inside the scan projection), a 1-row normalizer broadcast — the
    mixture table is |sources| rows no matter the corpus size."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    z = per_src.agg(
        F.sum(F.pow(F.col("n_tokens"), _MIX_TAU)).alias("z")
    )
    return per_src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.pow(F.col("n_tokens"), _MIX_TAU) / F.col("z") + F.lit(1e-9), 4
        ).alias("weight"),
    )


def _leakage_oracle() -> str:
    from polybot_data_etl_spark.functions.dedup import _NGRAM_ORACLE

    return f"""
    WITH pairs AS ({_NGRAM_ORACLE}),
    sp AS (
        SELECT doc_id,
               CASE WHEN (doc_id * 2654435761) % 1000000007 % 100 < 80
                    THEN 'train'
                    WHEN (doc_id * 2654435761) % 1000000007 % 100 < 90
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT sa.split AS split_a, sb.split AS split_b, count(*) AS n_pairs
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.a_id
    JOIN sp sb ON sb.doc_id = p.b_id
    WHERE sa.split <> sb.split
    GROUP BY sa.split, sb.split
    """


@register("q_pipeline_leakage", oracle=_leakage_oracle())
def q_pipeline_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: count near-duplicate pairs whose endpoints
    landed in DIFFERENT train/val/test splits — the eval-contamination
    check every held-out benchmark needs before trusting its numbers
    (a test doc with a train-side near-dup inflates eval scores).
    Composes the n-gram near-dup pair generator (#79) with the
    deterministic hash split (#124).

    Shape: the pair frame is bounded by the near-dup rate (tiny vs the
    corpus); the two split lookups are equi-joins of that pair frame
    against a narrow (doc_id, split) projection — at 100 TB the pair
    side is orders of magnitude smaller and hash-joins cheaply; the
    final agg has ≤6 groups."""
    from polybot_data_etl_spark.functions.dedup import q_dedup_ngram

    d = table(spark, sf_dir, "documents")
    pct = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007) % 100
    split = (
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    )
    sp = d.select("doc_id", split.alias("split"))
    pairs = q_dedup_ngram(spark, sf_dir).select("a_id", "b_id")
    sa = sp.select(
        F.col("doc_id").alias("a_id"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("b_id"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
    )


_CARD_SQL = """
SELECT CASE WHEN GROUPING(lang) = 0 AND GROUPING(source) = 0
            THEN 'lang_source'
            WHEN GROUPING(lang) = 0 THEN 'lang'
            WHEN GROUPING(source) = 0 THEN 'source'
            ELSE 'all' END AS scope,
       coalesce(lang, '*') AS lang,
       coalesce(source, '*') AS source,
       count(*) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS n_chars,
       cast(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       count(DISTINCT text) AS n_uniq,
       round(1e0 - count(DISTINCT text) / cast(count(*) AS DOUBLE), 4)
           AS dup_rate
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
"""

_CARD_SPARK_SQL = _CARD_SQL.replace(
    "len(string_split(text, ' '))", "size(split(text, ' '))"
)


@register("q_pipeline_card", oracle=_CARD_SQL)
def q_pipeline_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary: the per-slice statistics block a training
    corpus publishes (docs / chars / tokens / exact-dup rate, per
    language, per source, per (language, source), and overall) — one
    GROUPING SETS pass over the corpus.

    Shape: Catalyst expands the grouping sets into a single Expand +
    hash-agg (one shuffle); count(DISTINCT text) re-keys on the text
    value — at 100 TB the same query keys the distinct on a 64-bit
    content fingerprint instead (q_text_fingerprint's hash), which is
    the standard dataset-card dedup-rate estimator.  Only the
    tokenizer call differs per dialect (size(split()) vs
    len(string_split())); the SQL text is otherwise verbatim-shared."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_CARD_SPARK_SQL)


@register(
    "q_pipeline_entities",
    oracle="""
    WITH RECURSIVE fp AS (
        SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM fp
        UNION ALL
        SELECT b_id AS src, a_id AS dst FROM fp
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    assign AS (
        SELECT node, min(lbl) AS entity_id FROM reach GROUP BY node
    )
    SELECT entity_id,
           cast(count(*) AS BIGINT) AS n_members,
           string_agg(node::VARCHAR, ',' ORDER BY node) AS members
    FROM assign
    GROUP BY entity_id
    HAVING count(*) >= 2
    """,
)
def q_pipeline_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (the MDM golden-record pipeline):
    deletion-neighborhood fuzzy linkage (operators/joins.fuzzy_pairs)
    → connected components over the match graph → one golden entity
    per component (entity_id = min member key) with its member list —
    the composition that turns pairwise matches into deduplicated
    master records.

    Shape: pairing is the posting-list variant join (no Σ|block|²
    sweep). Components exploit the BLOCKING invariant: a match edge
    never crosses nation blocks, so each block's component structure
    is independent — ONE shuffle on the blocking key, then an
    in-memory union-find per block (applyInPandas). This replaces the
    iterative label propagation (whose superstep count follows the
    match graph's diameter — measured 10.8 s vs 1-2 s here at sf0.1:
    name-chain graphs are DEEP, unlike the dense near-dup clusters
    q_dedup_clusters handles) — blocks are memory-bounded by
    construction (that is what a blocking key is for); an unblocked
    graph falls back to functions/dedup.component_labels, whose
    driver-local path runs the same union_find_labels kernel. The
    oracle replays the identical graph through a recursive CTE."""
    from polybot_data_etl_spark.functions.dedup import union_find_labels
    from polybot_data_etl_spark.operators.joins import fuzzy_pairs

    pairs = fuzzy_pairs(spark, sf_dir).select(
        "nationkey",
        F.col("ck_a").alias("a_id"),
        F.col("ck_b").alias("b_id"),
    )
    labels = pairs.groupBy("nationkey").applyInPandas(
        union_find_labels, "node long, lbl long"
    )
    return (
        labels.groupBy(F.col("lbl").alias("entity_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            # numeric sort FIRST, cast after — a string sort would put
            # "10" before "2" and diverge from the oracle's ORDER BY node
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col("node"))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_members") >= 2)
    )


_EPOCH_BUDGET = 50_000   # target total training tokens for the mix
_EPOCH_TAU = 0.5         # temperature exponent for allocation weights
_EPOCH_CAP = 4.0         # max repeats of any source (data-constrained rule)


@register(
    "q_mix_epochs",
    oracle=f"""
    WITH per_src AS (
        SELECT source,
               CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens ** {_EPOCH_TAU}) AS z FROM per_src)
    SELECT source, n_tokens,
           round(n_tokens ** {_EPOCH_TAU} / z + 1e-9, 4) AS weight,
           round({_EPOCH_BUDGET} * n_tokens ** {_EPOCH_TAU} / z + 1e-9, 2)
               AS alloc_tokens,
           round(least({_EPOCH_CAP},
                       {_EPOCH_BUDGET} * n_tokens ** {_EPOCH_TAU} / z
                           / n_tokens) + 1e-9, 2) AS epochs
    FROM per_src CROSS JOIN tot
    """,
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-repetition planning for a data-constrained training mix
    (the Muennighoff et al. 2023 regime): temperature weights (τ=0.5)
    allocate a fixed token budget across sources, and each source's
    epoch count = allocated/available, capped at 4 repeats — past
    which repeated data stops helping.  The output is the per-source
    (tokens, weight, allocation, epochs) plan a training loader
    consumes; q_mix_temperature's sibling that turns weights into
    actual repeat factors.

    Shape: one map-side-combined token-count agg per source, a 1-row
    normalizer broadcast — |sources| rows total regardless of corpus
    size.  Double determinism follows the q_mix_temperature
    convention: both engines pow/divide the same integer token counts
    and the +1e-9 nudge keeps libm last-ulp differences off the
    rounding boundary."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    z = per_src.agg(F.sum(F.pow(F.col("n_tokens"), _EPOCH_TAU)).alias("z"))
    w = F.pow(F.col("n_tokens"), _EPOCH_TAU) / F.col("z")
    return per_src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(w + F.lit(1e-9), 4).alias("weight"),
        F.round(F.lit(_EPOCH_BUDGET) * w + F.lit(1e-9), 2).alias(
            "alloc_tokens"
        ),
        F.round(
            F.least(
                F.lit(_EPOCH_CAP),
                F.lit(_EPOCH_BUDGET) * w / F.col("n_tokens"),
            )
            + F.lit(1e-9),
            2,
        ).alias("epochs"),
    )


@register(
    "q_mix_upsample",
    oracle="""
    WITH per AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    mx AS (SELECT max(n_docs) AS mx FROM per),
    plan_ AS (
        SELECT source, n_docs,
               least(4, CAST(ceil(mx * 1e0 / n_docs) AS BIGINT)) AS rep
        FROM per, mx
    ),
    up AS (
        SELECT d.source, d.doc_id, u.copy
        FROM documents d
        JOIN plan_ p USING (source)
        CROSS JOIN LATERAL (
            SELECT unnest(range(1, CAST(p.rep AS INTEGER) + 1)) AS copy
        ) u
    )
    SELECT source, CAST(copy AS BIGINT) AS copy,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM up GROUP BY source, copy
    """,
)
def q_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized deterministic oversampling: each source is
    replicated ceil(max_source_docs / own_docs) times (capped at 4 —
    the q_mix_epochs repetition ceiling) toward doc-count balance, via
    integer `sequence` explosion — the step that turns q_mix_epochs'
    PLAN into an actual balanced training table, with a `copy` index so
    downstream shuffles can tell replicas apart.  Output is the
    per-(source, copy) manifest proving the materialization (≤
    |sources|·4 rows at any corpus size).

    Shape: per-source counts (map-side combined, |sources| rows) + a
    1-row max, broadcast back as the replication plan; the explosion is
    a narrow per-row Generate (fan-out ≤4, no shuffle); the manifest is
    one hash agg.  Determinism: replication factors are integer
    arithmetic on exact counts — no sampling, same replicas on every
    engine and every run (unlike rand()-based oversampling)."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    mx = per.agg(F.max("n_docs").alias("mx"))
    plan = per.crossJoin(F.broadcast(mx)).select(
        "source",
        F.least(
            F.lit(4),
            F.ceil(F.col("mx") / F.col("n_docs")).cast("long"),
        ).alias("rep"),
    )
    up = (
        d.select("source", "doc_id")
        .join(F.broadcast(plan), "source")
        .select(
            "source",
            "doc_id",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("rep"))
            ).alias("copy"),
        )
    )
    return up.groupBy("source", F.col("copy").cast("bigint").alias("copy")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )


_CURRICULUM_SCORE_SQL = """
    SELECT doc_id, lang,
           round(4e-1 * least(len(string_split(text, ' '))::DOUBLE / 5e1,
                              1e0)
                 + 3e-1 * (1e0 - len(list_filter(string_split(text, ' '),
                                     t -> t IN ('a', 'the')))
                           / len(string_split(text, ' '))::DOUBLE)
                 + 3e-1 * least((length(replace(text, ' ', ''))
                                 / len(string_split(text, ' '))::DOUBLE)
                                / 8e0, 1e0)
                 + 1e-9, 4) AS q
    FROM documents
"""


@register(
    "q_mix_curriculum",
    oracle=f"""
    WITH s AS ({_CURRICULUM_SCORE_SQL}),
    cuts AS (
        SELECT lang,
               quantile_cont(q, 0.25) AS c1,
               quantile_cont(q, 0.50) AS c2,
               quantile_cont(q, 0.75) AS c3
        FROM s GROUP BY lang
    ),
    phased AS (
        SELECT s.lang, s.q,
               1 + CASE WHEN s.q > c.c1 THEN 1 ELSE 0 END
                 + CASE WHEN s.q > c.c2 THEN 1 ELSE 0 END
                 + CASE WHEN s.q > c.c3 THEN 1 ELSE 0 END AS phase
        FROM s JOIN cuts c USING (lang)
    )
    SELECT lang, CAST(phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(q) + 1e-9, 4) AS avg_quality,
           round(min(q), 4) AS min_quality,
           round(max(q), 4) AS max_quality
    FROM phased GROUP BY lang, phase
    """,
)
def q_mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-phase assignment: each document gets a phase 1-4 by
    quality-score quartile WITHIN its language (curriculum learning
    feeds the cleanest quartile first; per-lang quartiles stop a
    high-resource language from monopolizing the early phases).
    Quality is the q_text_quality heuristic (4-dp rounded).

    Scale shape — cutpoints-broadcast, NOT a per-lang ntile window
    (the single-lang window is exactly the hot-task pattern VERDICT r3
    flagged elsewhere): one exact-percentile agg per lang (3 cuts,
    ≤|langs| rows — approx_percentile at 100 TB, same plan), broadcast
    back, phase = 1 + Σ(score > cutᵢ) as a narrow projection, then one
    (lang, phase) rollup.  Both engines compare identical 4-dp scores
    to identical interpolated cut doubles, so membership can't
    diverge."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    stop_cnt = F.size(
        F.filter(toks, lambda t: t.isin("a", "the"))
    ).cast("double")
    n_char = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double")
    q = F.round(
        0.4 * F.least(n_tok / 50.0, F.lit(1.0))
        + 0.3 * (1.0 - stop_cnt / n_tok)
        + 0.3 * F.least((n_char / n_tok) / 8.0, F.lit(1.0))
        + F.lit(1e-9),
        4,
    )
    s = d.select("lang", q.alias("q"))
    cuts = s.groupBy("lang").agg(
        F.percentile(
            "q", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("cs")
    ).select(
        "lang",
        F.col("cs")[0].alias("c1"),
        F.col("cs")[1].alias("c2"),
        F.col("cs")[2].alias("c3"),
    )
    phase = (
        F.lit(1)
        + F.when(F.col("q") > F.col("c1"), 1).otherwise(0)
        + F.when(F.col("q") > F.col("c2"), 1).otherwise(0)
        + F.when(F.col("q") > F.col("c3"), 1).otherwise(0)
    )
    return (
        s.join(F.broadcast(cuts), "lang")
        .select("lang", "q", phase.cast("bigint").alias("phase"))
        .groupBy("lang", "phase")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("q") + F.lit(1e-9), 4).alias("avg_quality"),
            F.round(F.min("q"), 4).alias("min_quality"),
            F.round(F.max("q"), 4).alias("max_quality"),
        )
    )


@register(
    "q_mix_kl",
    oracle="""
    WITH cells AS (
        SELECT lang, source, count(*) AS c
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT sum(c) AS n, count(*) AS k FROM cells),
    marg_l AS (SELECT lang, sum(c) AS cl FROM cells GROUP BY lang),
    marg_s AS (SELECT source, sum(c) AS cs FROM cells GROUP BY source)
    SELECT CAST(t.k AS BIGINT) AS n_cells,
           round(sum((c.c * 1e0 / t.n) * ln((c.c * 1e0 / t.n) * t.k))
                 + 1e-9, 4) AS kl_vs_uniform,
           round(sum((c.c * 1e0 / t.n)
                     * ln((c.c * 1e0 * t.n) / (ml.cl * 1e0 * ms.cs)))
                 + 1e-9, 4) AS mutual_info
    FROM cells c
    JOIN marg_l ml USING (lang)
    JOIN marg_s ms USING (source)
    CROSS JOIN tot t
    GROUP BY t.k
    """,
)
def q_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-divergence diagnostics over the (lang × source) corpus
    grid: KL(actual ‖ uniform) — how far the training mix sits from a
    balanced recipe (0 = perfectly even cells) — and the lang↔source
    mutual information, i.e. KL(joint ‖ product-of-marginals): 0 means
    the source mix is identical within every language, large means
    languages draw from disjoint sources (a leakage/bias signal when
    splits are assigned by source).

    Determinism: every probability is an exact integer ratio; the ≤
    |langs|·|sources| ln() terms sum on a tiny frame, absorbed by the
    4-dp round + nudge.

    Shape: ONE map-side-combined hash agg to the bounded cell frame;
    marginals re-aggregate the cells (not the corpus) and join back
    broadcast; the final reduce is over ≤ dozens of rows.  Corpus is
    touched exactly once at any scale."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("c"))
    tot = cells.agg(
        F.sum("c").alias("n"), F.count("*").alias("k")
    )
    marg_l = cells.groupBy("lang").agg(F.sum("c").alias("cl"))
    marg_s = cells.groupBy("source").agg(F.sum("c").alias("cs"))
    j = (
        cells.join(F.broadcast(marg_l), "lang")
        .join(F.broadcast(marg_s), "source")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("c") / F.col("n")
    kl_u = p * F.log(p * F.col("k"))
    mi = p * F.log(
        (F.col("c") * F.col("n")) / (F.col("cl") * F.col("cs"))
    )
    return j.groupBy("k").agg(
        F.round(F.sum(kl_u) + F.lit(1e-9), 4).alias("kl_vs_uniform"),
        F.round(F.sum(mi) + F.lit(1e-9), 4).alias("mutual_info"),
    ).select(
        F.col("k").cast("bigint").alias("n_cells"),
        "kl_vs_uniform",
        "mutual_info",
    )


def _dedup_loss_oracle() -> str:
    from polybot_data_etl_spark.functions.dedup import _NGRAM_ORACLE

    return f"""
    WITH RECURSIVE pairs AS ({_NGRAM_ORACLE}),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    toks AS (
        SELECT d.doc_id, d.lang,
               CAST(len(string_split(lower(d.text), ' ')) AS BIGINT)
                   AS n_tokens,
               c.cluster_id
        FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN doc_id = cluster_id THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           round(1 - sum(CASE WHEN doc_id = cluster_id THEN n_tokens
                              ELSE 0 END) * 1e0 / sum(n_tokens)
                 + 1e-9, 4) AS token_loss_rate
    FROM toks GROUP BY lang
    """


@register("q_mix_dedup_loss", oracle=_dedup_loss_oracle())
def q_mix_dedup_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact on the training mix: per language, how many
    documents and tokens survive keep-one-per-cluster dedup (keeper =
    the cluster's min doc_id, i.e. cluster_id == doc_id under the
    min-label contract) — the data-card number that tells you whether
    near-dup removal just erased 40% of a low-resource language's
    token budget before mixture weights are chosen.

    Shape: reuses q_dedup_clusters' assignment (memoized shared pair
    frame + CC), joins it back onto the narrow (doc_id, lang,
    token-count) projection — one corpus pass — then a k-language
    map-side-combined agg.  The keeper predicate is a pure column
    comparison, no extra shuffle."""
    from polybot_data_etl_spark.functions.dedup import q_dedup_clusters

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.col("text")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    clusters = q_dedup_clusters(spark, sf_dir)
    kept = F.col("doc_id") == F.col("cluster_id")
    return (
        d.join(clusters, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.round(
                1
                - F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
                / F.sum("n_tokens")
                + F.lit(1e-9),
                4,
            ).alias("token_loss_rate"),
        )
    )


@register(
    "q_mix_ess",
    oracle="""
    WITH w AS (
        SELECT lang,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ntok
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tokens,
           round(sum(ntok) * sum(ntok) * 1e0
                 / (count(*) * sum(ntok * ntok)) + 1e-9, 4)
               AS ess_fraction,
           round(sum(ntok) * sum(ntok) * 1e0 / sum(ntok * ntok)
                 + 1e-9, 2) AS ess_docs
    FROM w GROUP BY lang
    """,
)
def q_mix_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of each language's token-weight
    distribution: ESS = (Σw)²/Σw² (Kish) with w = tokens per doc —
    the mix diagnostic that says how many EFFECTIVE documents a slice
    contributes when long documents dominate (ESS fraction near 1 =
    even contribution; near 1/n = one mega-doc IS the slice, and any
    per-doc sampling rate reweights the mix more than the weights
    table suggests).

    Exact integer token counts → ESS is a ratio of integer moments —
    bit-identical cross-engine; one map-side-combined agg."""
    d = table(spark, sf_dir, "documents")
    w = d.select(
        "lang",
        F.size(F.split(F.lower(F.col("text")), " "))
        .cast("long")
        .alias("ntok"),
    )
    s1 = F.sum("ntok")
    s2 = F.sum(F.col("ntok") * F.col("ntok"))
    return w.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        s1.cast("bigint").alias("tokens"),
        F.round(s1 * s1 * 1.0 / (F.count("*") * s2) + F.lit(1e-9), 4).alias(
            "ess_fraction"
        ),
        F.round(s1 * s1 * 1.0 / s2 + F.lit(1e-9), 2).alias("ess_docs"),
    )


_DOMAIN_CAP = 50    # max docs kept per source


@register(
    "q_mix_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY doc_id * 2654435761 % 1000000007, doc_id
               ) AS rnk
        FROM documents
    ),
    agg AS (
        SELECT source,
               count(*) AS docs_before,
               sum(CASE WHEN rnk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                   AS docs_after,
               sum(n_chars) AS chars_before,
               sum(CASE WHEN rnk <= {_DOMAIN_CAP} THEN n_chars
                        ELSE 0 END) AS chars_after
        FROM ranked GROUP BY source
    ),
    tot AS (
        SELECT agg.*, sum(docs_after) OVER () AS total_after
        FROM agg
    )
    SELECT source, CAST(docs_before AS BIGINT) AS docs_before,
           CAST(docs_after AS BIGINT) AS docs_after,
           CAST(chars_before AS BIGINT) AS chars_before,
           CAST(chars_after AS BIGINT) AS chars_after,
           round(docs_after / CAST(total_after AS DOUBLE) + 1e-9, 4)
               AS share_after,
           CAST(docs_before > {_DOMAIN_CAP} AS BOOLEAN) AS capped
    FROM tot ORDER BY source
    """,
)
def q_mix_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (the crawl-curation move every web-scale corpus
    applies): keep at most K=50 documents per source, selected by a
    DETERMINISTIC hash order (the q_split_assign multiplicative hash —
    a re-run, backfill, or incremental append keeps exactly the same
    documents; random() would not), reporting each source's before /
    after doc+char mass and its share of the capped corpus — the
    anti-domination guarantee that stops one crawl host from being 40%
    of the training mix (the failure q_text_source_diversity measures;
    this is the fix).

    Shape: ONE source-partitioned rank window in hash order (the
    q_win_share_of_total conduct; the two-pass bucket-offset recipe is
    the documented swap when a single source outgrows a task) → one
    hash agg per source → marginals over the k-row frame."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("rnk")
    )
    kept = F.col("rnk") <= _DOMAIN_CAP
    agg = ranked.groupBy("source").agg(
        F.count("*").alias("docs_before"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("docs_after"),
        F.sum("n_chars").alias("chars_before"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
            "chars_after"
        ),
    )
    tot = agg.withColumn(
        "total_after",
        F.sum("docs_after").over(Window.partitionBy()),
    )
    return tot.select(
        "source",
        F.col("docs_before").cast("bigint").alias("docs_before"),
        F.col("docs_after").cast("bigint").alias("docs_after"),
        F.col("chars_before").cast("bigint").alias("chars_before"),
        F.col("chars_after").cast("bigint").alias("chars_after"),
        F.round(
            F.col("docs_after") / F.col("total_after").cast("double")
            + F.lit(1e-9),
            4,
        ).alias("share_after"),
        (F.col("docs_before") > _DOMAIN_CAP).alias("capped"),
    ).orderBy("source")
