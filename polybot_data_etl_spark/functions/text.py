"""Text analysis / LLM-data-pipeline operators over the documents corpus
(SURVEY.md §2 #53-57): tokenization, corpus stats, lexicon scoring,
language heuristics, exact + MinHash-LSH near-duplicate detection.

Reference provenance: the processor/transform stages of the reference's
social-text ETL [REC src/etl/.DS_Store:4664,5104]; lexicon scoring follows
the Spark sentiment-pipeline shape (PAPERS.md:5, EDBT'16). The dedup
family is mandated by the driver north star (BASELINE.json:6).

Scale posture: everything is explode → hash-agg (map-side combined).
MinHash-LSH is the 100 TB dedup path: candidate generation is
band-bucketed (no all-pairs), signatures come from a shuffle-free Arrow
kernel (per-unique-shingle portable hash, scatter-min per doc), and only
bucket-collided pairs pay the exact-Jaccard verification join.

The permutation family is PORTABLE (polynomial char hash mod 1e9+7,
then sig_k = min over shingles of (h·(2k+3) + 7919·(k+1)) mod p), so
DuckDB derives bit-identical signatures and q_dedup_minhash is
hash-checked end-to-end — the earlier xxhash64 signatures were
engine-specific and forced a rows-only gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.plans.memo import memo
from polybot_data_etl_spark.registry import register

# MinHash parameters: 32 permutations in 8 bands of 4 rows.
# P(candidate) = 1 - (1 - j^4)^8 — ~0.5 crossover near Jaccard 0.55.
_MINHASH_PERMS = 32
_MINHASH_BANDS = 8
_MINHASH_ROWS_PER_BAND = _MINHASH_PERMS // _MINHASH_BANDS
_JACCARD_THRESHOLD = 0.5
_P = 1_000_000_007  # shared with functions/dedup.py primitives


def _tokens(col: str = "text"):
    """Whitespace tokens, lowercased (corpus is already space-separated)."""
    return F.split(F.lower(F.col(col)), " ")


@register(
    "q_text_wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + explode + top-N term counts (deterministic tiebreak)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
           round(avg(length(text)), 2) AS avg_len
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (doc count, chars, token counts)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 2).alias("avg_tokens"),
        F.round(F.avg(F.length("text")), 2).alias("avg_len"),
    )


@register(
    "q_text_keyword_score",
    oracle="""
    SELECT doc_id,
           (CASE WHEN text LIKE '%join%' THEN 2 ELSE 0 END
            + CASE WHEN text LIKE '%filter%' THEN 1 ELSE 0 END
            + CASE WHEN text LIKE '%window%' THEN 1 ELSE 0 END
            - CASE WHEN text LIKE '%slow%' THEN 2 ELSE 0 END) AS score
    FROM documents
    """,
)
def q_text_keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic lexicon scoring (sentiment-style, PAPERS.md:5 shape)."""
    d = table(spark, sf_dir, "documents")

    def hit(kw: str, weight: int):
        return F.when(F.col("text").contains(kw), weight).otherwise(0)

    score = hit("join", 2) + hit("filter", 1) + hit("window", 1) - hit("slow", 2)
    return d.select("doc_id", score.cast("int").alias("score"))


@register(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_dups
    FROM (SELECT doc_id, lower(trim(text)) AS norm FROM documents)
    GROUP BY norm
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized text key, deterministic survivor
    (min doc_id) — a hash aggregation, not dropDuplicates, so the
    surviving row is engine-independent."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.lower(F.trim(F.col("text"))).alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
        .select("doc_id", "n_dups")
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
    SELECT doc_id, token, score, rn FROM (
        SELECT tf.doc_id, tf.token,
               (tf.tf * 10000) // df.df AS score,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY (tf.tf * 10000) // df.df DESC, tf.token
               ) AS rn
        FROM tf JOIN df USING (token)
    )
    WHERE rn <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic keywords per document by a tf-idf-style
    score — the curation primitive behind topic tagging and keyword
    extraction for training-data mixes.

    The score is (tf · 10000) div df in EXACT integer arithmetic (no
    log, no float division): cross-engine identical, and order-
    equivalent to tf/df ranking for a fixed corpus.  Shape: two hash
    aggregations (tf on (doc, token), df on token) + one equi-join +
    a per-doc top-k window — every stage partitions on a
    high-cardinality key.  At 100 TB the df side is a broadcast
    candidate only after a min-df filter; here AQE decides.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    score = F.floor((F.col("tf") * 10000) / F.col("df")).cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.join(df_t, "token")
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "score", "rn")
    )


def minhash_signatures(docs: DataFrame, n_perms: int = _MINHASH_PERMS) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): per-doc MinHash signature over 3-token
    shingles.

    Permutation k of a shingle is (h·(2k+3) + 7919·(k+1)) mod p where h
    is the polynomial char hash mod p = 1e9+7 shared with
    functions/dedup.py — every value fits well under 2^63 and the exact
    expression is reproduced in the DuckDB oracle, so signatures are
    bit-identical across engines (xxhash64 wasn't, which forced the old
    rows-only gate).

    Computed as an Arrow ``mapInPandas`` kernel, like
    dedup.simhash_bands: shingle the batch in Python (same semantics as
    dedup.shingles' zip_with form: distinct 3-token windows, whole text
    if shorter), factorize to unique shingles, hash each unique ONCE
    (memoized across batches — corpora repeat shingles), build the
    (uniques × n_perms) permutation matrix in one vectorized pass, and
    scatter-min into per-doc signature rows.  Shuffle-free: a pure
    scan-side map, vs the previous explode → 32-min hash-agg which
    shuffled every (doc, shingle) row.
    """
    import numpy as np
    import pandas as pd

    A = 2 * np.arange(n_perms, dtype=np.int64) + 3
    B = 7919 * (np.arange(n_perms, dtype=np.int64) + 1)
    memo: dict = {}

    def char_hash(s: str) -> int:
        h = memo.get(s)
        if h is None:
            h = 0
            for c in s:
                h = (h * 31 + ord(c)) % _P
            memo[s] = h
        return h

    def shingle_list(text: str) -> list[str]:
        words = text.lower().split(" ")
        if len(words) >= 3:
            return list({" ".join(words[i : i + 3]) for i in range(len(words) - 2)})
        return [" ".join(words)]

    # r13 (guide §4.2): per-doc signatures are independent of batch
    # composition, and the (shingle-instances × n_perms) permutation
    # gather `perm_u[codes]` materializes ~90 rows/doc × 32 × 8 B —
    # ~230 MB per default-size (10 k-row) Arrow batch, which thrashes
    # allocation/cache.  Re-chunking each incoming batch to ≤2 000
    # docs keeps the gather ≤ ~45 MB; measured 23.3 s → 7.1 s for the
    # 500 k-doc corpus kernel pass, bit-identical output.  Kernel-local
    # so no session-wide Arrow batch knob changes other kernels.
    chunk_docs = 2000

    def kernel(batches):
        for whole in batches:
            for lo in range(0, len(whole), chunk_docs):
                pdf = whole.iloc[lo : lo + chunk_docs]
                doc_pos, shingles_flat = [], []
                for i, text in enumerate(pdf["text"].tolist()):
                    for s in shingle_list(text):
                        doc_pos.append(i)
                        shingles_flat.append(s)
                codes, uniques = pd.factorize(
                    np.asarray(shingles_flat, dtype=object)
                )
                HU = np.fromiter(
                    (char_hash(s) for s in uniques),
                    dtype=np.int64,
                    count=len(uniques),
                )
                perm_u = (HU[:, None] * A[None, :] + B[None, :]) % _P
                sig = np.full(
                    (len(pdf), n_perms),
                    np.iinfo(np.int64).max,
                    dtype=np.int64,
                )
                np.minimum.at(sig, np.asarray(doc_pos), perm_u[codes])
                out = {"doc_id": pdf["doc_id"].to_numpy()}
                for k in range(n_perms):
                    out[f"sig_{k}"] = sig[:, k]
                yield pd.DataFrame(out)

    schema = ", ".join(
        ["doc_id long"] + [f"sig_{k} long" for k in range(n_perms)]
    )
    # NULL text = absent from the corpus (failed upstream extraction):
    # skip, never crash — the null-injection audit contract
    return (
        docs.select("doc_id", "text")
        .filter(F.col("text").isNotNull())
        .mapInPandas(kernel, schema)
    )


def _minhash_sig_sql(n_perms: int = _MINHASH_PERMS) -> str:
    """DuckDB twin of minhash_signatures (shingles + char hash reuse the
    dedup.py SQL primitives)."""
    from polybot_data_etl_spark.functions.dedup import (
        _CHAR_HASH_SQL,
        _SHINGLES_SQL,
    )

    sig_cols = ", ".join(
        f"list_min(list_transform(hl, h -> (h * {2 * k + 3} + {7919 * (k + 1)})"
        f" % {_P})) AS sig_{k}"
        for k in range(n_perms)
    )
    return f"""
        SELECT doc_id, {sig_cols}
        FROM (
            SELECT doc_id,
                   list_transform({_SHINGLES_SQL},
                                  s -> {_CHAR_HASH_SQL.format(t='s')}) AS hl
            FROM documents
        )"""


def _band_bucket_sql(band: int) -> str:
    expr = f"sig_{band * _MINHASH_ROWS_PER_BAND}"
    for r in range(1, _MINHASH_ROWS_PER_BAND):
        expr = f"(({expr}) * 31 + sig_{band * _MINHASH_ROWS_PER_BAND + r}) % {_P}"
    return expr


def _banded_expr() -> str:
    """All 8 (band, bucket) structs as ONE SQL-text expression (r13,
    guide §4 driver boundary): the Column-fold form issued ~15 Py4J
    round-trips per band per build; this is one JVM parse.  Bucket
    arithmetic is byte-for-byte `_band_bucket_sql`, the same text the
    DuckDB oracle runs."""
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_band_bucket_sql(b)})"
        for b in range(_MINHASH_BANDS)
    )
    return f"array({structs})"


def _minhash_oracle() -> str:
    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, ({_band_bucket_sql(b)})::BIGINT AS bucket"
        f" FROM sig"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
    WITH sig AS ({_minhash_sig_sql()}),
    banded AS ({banded}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(lower(text), ' '))) AS token
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS n_inter
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.a_id
        JOIN tok tb ON tb.doc_id = c.b_id AND tb.token = ta.token
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, jaccard FROM (
        SELECT a_id, b_id,
               round(n_inter / (sa.n_tok + sb.n_tok - n_inter)::DOUBLE, 4)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
    )
    WHERE jaccard >= {_JACCARD_THRESHOLD}
    """


def minhash_signature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus MinHash signature frame, memoized per session and
    lazily checkpointed so the Arrow kernel — the suite's most
    CPU-contention-sensitive stage — runs once across its consumers
    (q_dedup_minhash, q_dedup_lsh_stats, q_dedup_capture_recapture:
    17.6+16.4+14.4 s under load when each re-ran it, VERDICT r6)."""
    return memo(
        spark,
        ("minhash_sigs", sf_dir),
        lambda: minhash_signatures(
            table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=False),
    )


@register("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH over 3-token shingles.

    Pipeline (all DataFrame ops, fully distributed):
      shingle → 32 portable-permutation-min signatures (Arrow kernel) →
      8 band keys → per-(band, bucket) posting lists →
      exact Jaccard verification on the candidate pairs.

    Output: (a_id, b_id, jaccard) with a_id < b_id, jaccard rounded 4,
    Jaccard ≥ 0.5. Deterministic and engine-portable: fixed integer
    permutation family, no RNG — hash-checked against the DuckDB twin.
    Both the signature frame and the verified pair frame are memoized
    per (application, sf_dir): q_dedup_lsh_stats shares the signatures,
    q_dedup_capture_recapture shares the pairs.
    """
    return memo(
        spark,
        ("minhash_pairs", sf_dir),
        lambda: minhash_pairs(
            table(spark, sf_dir, "documents"),
            sigs=minhash_signature_frame(spark, sf_dir),
        ).localCheckpoint(eager=False),
    )


def minhash_pairs(
    d: DataFrame,
    threshold: float = _JACCARD_THRESHOLD,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs for any (doc_id, text) DataFrame.

    ``sigs`` lets a caller supply a precomputed (memoized) signature
    frame; by default the signatures are built from ``d``."""
    if sigs is None:
        sigs = minhash_signatures(d)

    banded = sigs.selectExpr(
        "doc_id", f"explode({_banded_expr()}) AS bk"
    ).selectExpr("doc_id", "bk.band AS band", "bk.bucket AS bucket")

    # Candidate pairs come from per-(band, bucket) posting lists rather
    # than a band self-join: the self-join recomputed the 32-permutation
    # signature stage on both sides, while one groupBy builds each
    # bucket's member list once and a double explode emits its pairs.
    # LSH bucket population is geometric (most buckets are singletons),
    # so the collect_list rows stay small; the cross-band distinct runs
    # on candidate pairs only.
    postings = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    candidates = (
        postings.select(F.explode("ids").alias("a_id"), "ids")
        .select("a_id", F.explode("ids").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )

    # Candidates must also be shared by the id-prune below and the
    # pair joins — cut once (bounded: the verified-pair superset).
    candidates = candidates.localCheckpoint(eager=False)

    # The token frame verifies both pair endpoints AND supplies the
    # signature sizes — three consumers, which Catalyst would otherwise
    # plan as three copies of the tokenize+distinct+explode stage
    # (executed plan: Generate ×7 before the cut).  One lazy
    # localCheckpoint runs it once.  r13 (guide §3.2): the frame is
    # first SEMI-JOIN PRUNED to docs that appear in some candidate
    # pair — verification only ever touches those docs, and LSH
    # candidates are a vanishing fraction of the corpus, so the big
    # (doc, token) exchange feeding the verify join shrinks from
    # corpus-sized to candidate-sized (measured sf10: the verify leg
    # 38 s → the pruned join, pairs output unchanged).  Sizes are
    # per-doc totals, so pruning by doc_id keeps them exact.
    cand_ids = (
        candidates.selectExpr("explode(array(a_id, b_id)) AS doc_id")
        .distinct()
    )
    tok = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(_tokens())).alias("token"),
        )
        # un-hinted (the VERDICT r5 #6 rule): candidate ids are a small
        # fraction of the corpus but not broadcast-safe by contract at
        # 100 TB — AQE broadcasts when the measured size allows
        .join(cand_ids, "doc_id", "left_semi")
        .localCheckpoint(eager=False)
    )
    ta = tok.select(F.col("doc_id").alias("a_id"), "token")
    tb = tok.select(F.col("doc_id").alias("b_id"), "token")
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))

    inter = (
        candidates.join(ta, "a_id")
        .join(tb, ["b_id", "token"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "a_id", "n_tok": "n_a"}), "a_id")
        .join(sizes.withColumnsRenamed({"doc_id": "b_id", "n_tok": "n_b"}), "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


@register(
    "q_text_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS scrubbed,
           (length(text) - length(replace(text, '@', ''))) AS n_at
    FROM documents
    """,
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing — the redaction pass of a training-data
    curation pipeline: mask emails, URLs, and long digit runs.  Pure
    narrow regexp projection (whole-stage codegen); the patterns stick
    to the regex subset Java and RE2 interpret identically (explicit
    classes, no backrefs), so the scrubbed text hash-matches DuckDB.
    """
    d = table(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                "<EMAIL>",
            ),
            r"https?://[^ ]+",
            "<URL>",
        ),
        r"[0-9]{6,}",
        "<NUM>",
    )
    n_at = F.length("text") - F.length(F.replace(F.col("text"), F.lit("@")))
    return d.select(
        "doc_id", scrub.alias("scrubbed"), n_at.cast("long").alias("n_at")
    )


@register(
    "q_text_bigrams",
    oracle="""
    SELECT bigram, count(*) AS n
    FROM (
        SELECT unnest(list_transform(
                 range(1, len(string_split(lower(text), ' '))),
                 i -> string_split(lower(text), ' ')[i] || ' ' ||
                      string_split(lower(text), ' ')[i + 1])) AS bigram
        FROM documents
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 corpus bigrams — the n-gram language-model count table in
    miniature (the full table is the same plan minus the LIMIT).

    Bigrams via zip_with of the token array against its 1-shifted self
    (O(tokens) per doc, same trick as dedup.shingles — never per-index
    HOF slicing), then explode → map-side-combined count → top-k with a
    deterministic tiebreak (TakeOrderedAndProject, no global sort)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    bigrams = F.filter(
        F.zip_with(
            words,
            F.slice(words, 2, F.lit(1 << 30)),
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        ),
        lambda s: s.isNotNull(),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(25)
    )


@register(
    "q_text_chunk",
    oracle="""
    SELECT doc_id,
           (s - 1) // 90 AS chunk_id,
           substring(text, CAST(s AS INTEGER), 120) AS chunk,
           length(substring(text, CAST(s AS INTEGER), 120)) AS chunk_len
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, n_chars, 90)) AS s
        FROM documents WHERE n_chars >= 1
    )
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (size 120, stride 90 → 30-char
    overlap) — the RAG/context-window splitter that turns a corpus into
    retrieval units.  Chunk k of a doc covers [1+90k, 1+90k+120); the
    stride-length sequence is generated per row (``F.sequence`` —
    Catalyst's Generate, no join, no UDF) and the substring runs in
    whole-stage codegen, so the operator is a narrow per-row expansion:
    zero shuffles, linear in output size, embarrassingly parallel at
    100 TB.  Both engines use 1-based inclusive substring semantics and
    an inclusive arithmetic sequence, so values hash-match exactly.
    Empty docs are filtered on both sides (Spark's sequence throws on
    start>stop with positive step; DuckDB's generate_series is empty)."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    s = F.explode(
        F.sequence(F.lit(1).cast("long"), F.col("n_chars"), F.lit(90).cast("long"))
    ).alias("s")
    chunk = F.expr("substring(text, CAST(s AS INT), 120)")
    return (
        d.select("doc_id", "text", s)
        .select(
            "doc_id",
            F.floor((F.col("s") - 1) / 90).alias("chunk_id"),
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


@register(
    "q_text_vocab",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    stats AS (
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM tok WHERE token <> '' GROUP BY token
    ),
    tot AS (SELECT sum(tf)::DOUBLE AS t FROM stats),
    top AS (SELECT token, tf, df FROM stats ORDER BY tf DESC, token LIMIT 200)
    SELECT token, tf, df,
           round(sum(tf) OVER (
               ORDER BY tf DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / t, 4) AS coverage
    FROM top CROSS JOIN tot
    """,
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: the top-200 tokens by term frequency with
    document frequency and cumulative corpus-coverage share — the
    tokenizer-design query ("how much of the corpus do the first N
    vocabulary entries cover?").

    Shape: token stats are one map-side-combined hash agg over the
    exploded corpus (tf) with a distinct-doc count (df, one extra
    partial per token); the top-200 head comes from a distributed
    TakeOrdered (no global sort of the vocabulary), and only THEN does
    the cumulative window run — over exactly 200 rows, so the single-
    partition window is constant-size at any corpus scale.  The
    coverage denominator is the full-vocabulary token total, computed
    as a 1-row agg and broadcast."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    stats = tok.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    tot = stats.agg(F.sum("tf").cast("double").alias("t"))
    top = stats.orderBy(F.desc("tf"), F.asc("token")).limit(200)
    w = (
        Window.orderBy(F.desc("tf"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "tf",
            "df",
            F.round(F.sum("tf").over(w) / F.col("t"), 4).alias("coverage"),
        )
    )


@register(
    "q_text_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(lower(text), ' '))),
                   i -> string_split(lower(text), ' ')[i] || ' ' ||
                        string_split(lower(text), ' ')[i + 1])) AS bigram
        FROM documents
    ),
    bc AS (SELECT bigram, count(*) AS c12 FROM toks GROUP BY bigram),
    lc AS (
        SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
        FROM bc GROUP BY string_split(bigram, ' ')[1]
    ),
    lm AS (
        SELECT bc.bigram, ln(bc.c12) - ln(lc.c1) AS logp
        FROM bc JOIN lc ON string_split(bc.bigram, ' ')[1] = lc.w1
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(sum(logp) / count(*) + 1e-9, 4) AS avg_logp
    FROM toks JOIN lm USING (bigram)
    GROUP BY doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self bigram language-model scoring: build the bigram LM
    from the corpus itself (P(w2|w1) = c(w1 w2) / c(w1·)) and score
    each document by its mean log-probability — the classic
    perplexity-style quality filter that flags gibberish (improbable
    bigram chains score far below the corpus norm).

    Both engines sum ln(c12) − ln(c1) over integer counts through the
    same algebra; the per-doc mean is rounded with the +1e-9 nudge (the
    q_ts_anomaly recipe) so last-ulp libm differences can't straddle a
    rounding boundary.  Shape: bigram extraction is the zip_with
    pattern (O(tokens) per doc, no per-index HOF).  The left-context
    counts derive ALGEBRAICALLY from the bigram counts (c1 = Σ c12 over
    bigrams sharing the prefix) instead of a second corpus aggregation,
    and the per-bigram log-prob is pre-folded into ONE vocab-sized LM
    frame — so the corpus-sized bigram stream is consumed exactly twice
    (once to count, once to score) and the scoring pass is a single
    equi-join; Zipf skew on the bigram key is AQE's skew-split case,
    and the LM frame broadcasts at moderate scale."""
    d = table(spark, sf_dir, "documents")
    # SQL-text expressions (r13, guide §4): identical operator tree,
    # ~⅓ the Py4J round-trips per plan build.
    pairs = (
        "filter(zip_with(split(lower(text), ' '),"
        f" slice(split(lower(text), ' '), 2, {1 << 30}),"
        " (a, b) -> CASE WHEN b IS NOT NULL"
        " THEN concat_ws(' ', a, b) END),"
        " s -> s IS NOT NULL)"
    )
    toks = d.selectExpr("doc_id", f"explode({pairs}) AS bigram")
    # bc feeds both lc and the LM join; a lazy cut on the vocab-sized
    # count frame keeps the corpus-sized explode at exactly two
    # executions (count pass + scoring pass) instead of three.
    bc = (
        toks.groupBy("bigram")
        .agg(F.expr("count(*) AS c12"))
        .localCheckpoint(eager=False)
    )
    lc = bc.groupBy(
        F.expr("split(bigram, ' ')[0]").alias("w1")
    ).agg(F.expr("sum(c12) AS c1"))
    lm = (
        bc.withColumn("w1", F.expr("split(bigram, ' ')[0]"))
        .join(lc, "w1")
        .selectExpr("bigram", "ln(c12) - ln(c1) AS logp")
    )
    return (
        toks.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.expr("count(*) AS n_bigrams"),
            F.expr("round(sum(logp) / count(*) + 1e-9, 4) AS avg_logp"),
        )
    )


@register(
    "q_text_pmi",
    oracle="""
    WITH toks AS (
        SELECT string_split(lower(text), ' ') AS ws FROM documents
    ),
    big AS (
        SELECT unnest(list_transform(
                   range(1, len(ws)),
                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM toks
    ),
    uni AS (
        SELECT unnest(ws) AS word FROM toks
    ),
    bc AS (SELECT bigram, count(*) AS n_xy FROM big GROUP BY bigram),
    uc AS (SELECT word, count(*) AS n_x FROM uni GROUP BY word),
    tot AS (SELECT count(*) AS n FROM big)
    SELECT bigram, n_xy,
           round((n_xy * n) / (l.n_x * r.n_x * 1.0), 4) AS lift
    FROM bc
    JOIN uc l ON l.word = string_split(bigram, ' ')[1]
    JOIN uc r ON r.word = string_split(bigram, ' ')[2]
    CROSS JOIN tot
    WHERE n_xy >= 5
    ORDER BY lift DESC, bigram
    LIMIT 50
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise-mutual-information
    lift  P(xy) / (P(x)·P(y))  — pairs that co-occur far above chance
    (named entities, fixed phrases), the signal phrase-aware tokenizers
    and stop-phrase filters are built from.

    The lift ratio IS exp(PMI); ranking by it avoids ln() whose libm
    rounding differs across engines (same rationale as the sampling
    family's hash-priority arithmetic).  Shape: one corpus pass for
    bigram counts, one for unigram counts (both map-side combined),
    two broadcast-sized joins of the n_xy frame against the unigram
    frame, a 1-row total, then TakeOrderedAndProject — no global sort.
    The n_xy >= 5 support floor is applied before the joins, so the
    expensive side entering the join is the *distinct frequent bigram*
    set, sublinear in corpus size.
    """
    d = table(spark, sf_dir, "documents")
    # SQL-text expressions (r13, guide §4): identical operator tree,
    # ~⅓ the Py4J round-trips per plan build.
    bigrams = (
        "filter(zip_with(split(lower(text), ' '),"
        f" slice(split(lower(text), ' '), 2, {1 << 30}),"
        " (a, b) -> CASE WHEN b IS NOT NULL"
        " THEN concat_ws(' ', a, b) END),"
        " s -> s IS NOT NULL)"
    )
    bc = (
        d.selectExpr(f"explode({bigrams}) AS bigram")
        .groupBy("bigram")
        .agg(F.expr("count(*) AS n_xy"))
        # Feeds both the support-filtered join side and the corpus
        # total below — pin so the explode+count runs once.
        .localCheckpoint(eager=False)
    )
    uc = (
        d.selectExpr("explode(split(lower(text), ' ')) AS word")
        .groupBy("word")
        .agg(F.expr("count(*) AS n_x"))
    )
    # Total bigram mass = Σ n_xy over the count table — no third
    # corpus pass.
    tot = bc.agg(F.expr("sum(n_xy) AS n"))
    freq = bc.filter("n_xy >= 5")
    scored = (
        freq.withColumn("wl", F.expr("split(bigram, ' ')[0]"))
        .withColumn("wr", F.expr("split(bigram, ' ')[1]"))
        .join(uc.selectExpr("word AS wl", "n_x AS nl"), "wl")
        .join(uc.selectExpr("word AS wr", "n_x AS nr"), "wr")
        .crossJoin(F.broadcast(tot))
    )
    return (
        scored.selectExpr(
            "bigram",
            "n_xy",
            "round((n_xy * n) / (nl * nr * 1.0D), 4) AS lift",
        )
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(50)
    )


_ZIPF_TOP = 100


@register(
    "q_text_zipf",
    oracle=f"""
    WITH freq AS (
        SELECT t, count(*) AS f
        FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS t
            FROM documents
        )
        GROUP BY t
        ORDER BY f DESC, t
        LIMIT {_ZIPF_TOP}
    ),
    ranked AS (
        SELECT log10(CAST(row_number() OVER (ORDER BY f DESC, t) AS DOUBLE))
                   AS lx,
               log10(CAST(f AS DOUBLE)) AS ly
        FROM freq
    ),
    m AS (
        SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
               sum(lx * ly) AS sxy, sum(lx * lx) AS sxx,
               sum(ly * ly) AS syy
        FROM ranked
    )
    SELECT cast(n AS BIGINT) AS n_ranks,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           round(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * sx / n, 4) AS intercept,
           round(power(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM m
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log-frequency vs log-rank on the top-100 tokens (natural corpora
    slope ≈ −1; a synthetic or templated corpus shows up immediately as
    a flat slope — a cheap corpus-health fingerprint).

    Shape: ONE map-side-combined token-count agg; the top-100 head is
    TakeOrdered (no global sort); ranking + the moment sums run on the
    100-row frame. Ranks and counts are integers, so the log inputs
    are bit-identical across engines before the shared OLS algebra."""
    d = table(spark, sf_dir, "documents")
    toks = F.explode(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    ).alias("t")
    freq = (
        d.select(toks)
        .groupBy("t")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), F.asc("t"))
        .limit(_ZIPF_TOP)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("f"), F.asc("t"))
    ranked = freq.select(
        F.log10(F.row_number().over(w).cast("double")).alias("lx"),
        F.log10(F.col("f").cast("double")).alias("ly"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("bigint").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(sy / n - slope * sx / n, 4).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    )


@register(
    "q_text_urldedup",
    oracle="""
    WITH urls AS (
        -- mixed-case hosts, tracking params, trailing slashes: the
        -- noise URL canonicalization removes (derived deterministically)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END
               || 'www.Example.com/docs/' || (doc_id // 4)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END
                   AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   lower(regexp_replace(url, '\\?utm_[^#]*$', '')),
                   '/+$', '') AS curl
        FROM urls
    )
    SELECT curl, cast(count(*) AS BIGINT) AS n_dups,
           min(doc_id) AS kept_id
    FROM canon
    GROUP BY curl
    HAVING count(*) > 1
    """,
)
def q_text_urldedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: lowercase, strip tracking params and
    trailing slashes, then group identical canonical URLs keeping the
    min doc_id — the first dedup pass every web corpus runs (exact
    content dedup only sees bytes; URL dedup catches re-crawls of the
    same page before any content comparison). URLs are synthesized
    deterministically with the noise classes the canonicalizer must
    remove (case, utm params, trailing slash).

    Shape: narrow canonicalization projection (regexp + lower + rtrim,
    all codegen) → ONE hash agg on the canonical string — at 100 TB
    this is the cheapest dedup in the pipeline and runs first."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("https://")
        ),
        F.lit("www.Example.com/docs/"),
        F.floor(F.col("doc_id") / 4).cast("long"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed")
        ).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.lower(F.regexp_replace(url, r"\?utm_[^#]*$", "")), "/+$", ""
    )
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("kept_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


@register(
    "q_text_boilerplate",
    oracle="""
    WITH ch AS (
        SELECT source, doc_id,
               substring(text, CAST(s AS INTEGER), 40) AS chunk
        FROM (
            SELECT source, doc_id, text,
                   unnest(generate_series(1, n_chars, 40)) AS s
            FROM documents WHERE n_chars >= 1
        )
    ),
    per AS (
        SELECT source, chunk, count(DISTINCT doc_id) AS nd
        FROM ch GROUP BY source, chunk
    ),
    docs AS (
        SELECT source, count(DISTINCT doc_id) AS n_docs
        FROM ch GROUP BY source
    )
    SELECT per.source,
           cast(any_value(n_docs) AS BIGINT) AS n_docs,
           cast(count(*) AS BIGINT) AS n_chunks_distinct,
           cast(sum(CASE WHEN nd >= 2 AND nd * 20 >= n_docs
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
    FROM per JOIN docs USING (source)
    GROUP BY per.source
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection (the CCNet/RefinedWeb cleaning
    pass): a segment is boilerplate when it recurs across ≥5% of a
    SOURCE's documents (and ≥2 docs) — headers, footers, nav chrome
    repeat within a crawl source, not across unrelated sources, which
    is why the frequency is source-relative.  Same 40-char segmentation
    as q_dedup_paragraph (newline-free synthetic corpus); the ≥5%
    threshold is the integer comparison nd*20 ≥ n_docs, so no float
    threshold can diverge across engines.  Output: per-source manifest
    (docs, distinct segments, boilerplate segments).

    Shape: Generate → hash agg on (source, segment) → tiny per-source
    doc-count agg broadcast back → per-source hash agg.  All group keys
    are high-cardinality except the final |sources| rollup; nothing
    quadratic, no window."""
    # n_chars >= 1 on both sides: Spark's sequence throws on empty docs
    # where DuckDB's generate_series is empty (ADVICE r4).
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    s = F.explode(
        F.sequence(
            F.lit(1).cast("long"), F.col("n_chars"), F.lit(40).cast("long")
        )
    ).alias("s")
    ch = d.select("source", "doc_id", "text", s).select(
        "source",
        "doc_id",
        F.expr("substring(text, CAST(s AS INT), 40)").alias("chunk"),
    )
    per = ch.groupBy("source", "chunk").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    docs = ch.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    boiler = F.when(
        (F.col("nd") >= 2) & (F.col("nd") * 20 >= F.col("n_docs")), 1
    ).otherwise(0)
    return (
        per.join(F.broadcast(docs), "source")
        .groupBy("source")
        .agg(
            F.any_value("n_docs").cast("bigint").alias("n_docs"),
            F.count("*").alias("n_chunks_distinct"),
            F.sum(boiler).cast("bigint").alias("n_boiler"),
        )
    )


def _novelty_oracle() -> str:
    from polybot_data_etl_spark.functions.dedup import _SHINGLES_SQL

    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ),
    first_owner AS (
        SELECT s, min(doc_id) AS first_id FROM sh GROUP BY s
    ),
    per_doc AS (
        SELECT sh.doc_id,
               count(*) AS n_sh,
               sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM sh JOIN first_owner f USING (s)
        GROUP BY sh.doc_id
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_novel) AS BIGINT) AS novel_shingles,
           round(avg(p.n_novel * 1e0 / p.n_sh) + 1e-9, 4)
               AS mean_novelty,
           CAST(sum(CASE WHEN p.n_novel = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fully_seen
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@register("q_text_novelty", oracle=_novelty_oracle())
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus novelty: for each document, the fraction of
    its distinct 3-token shingles whose FIRST corpus occurrence (min
    doc_id — ingestion order) is this document; aggregated per
    language.  The streaming-curation signal behind "is this crawl
    batch adding anything new?" — dedup tells you what to drop,
    novelty tells you what the rest is worth (a doc with n_novel = 0
    is fully covered by earlier documents: the n-gram-level SemDeDup
    criterion).

    Shape: the shingle explode runs ONCE, and the heavy frame never
    joins back — per-doc totals are `size(shingles())` computed
    NARROWLY on the document scan (the shingle array is distinct, so
    its size IS the per-doc count), and per-doc novel counts come from
    re-keying the first-owner frame by its min-doc-id (first-owner
    frame is |distinct shingles| rows, far smaller than the exploded
    one).  One explode → one hash(s) agg → one hash(first_id) agg →
    left join onto the narrow doc frame — vs the naive sh⋈first
    formulation whose un-reused explode subtree shuffles O(shingles)
    rows TWICE and joins two shingle-sized frames (at 100 TB the
    difference between one |shingles| exchange and three).  Cost
    O(total shingles), no quadratic stage; local wall is codegen-bound
    at bench scale."""
    from polybot_data_etl_spark.functions.dedup import shingles

    d = table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingles()).alias("s"))
    novel = (
        sh.groupBy("s")
        .agg(F.min("doc_id").alias("first_id"))
        .groupBy("first_id")
        .agg(F.count("*").alias("n_novel"))
        .withColumnRenamed("first_id", "doc_id")
    )
    per_doc = d.select(
        "doc_id", "lang", F.size(shingles()).alias("n_sh")
    ).join(novel, "doc_id", "left")
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0))
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_novel).cast("bigint").alias("novel_shingles"),
        F.round(
            F.avg(n_novel / F.col("n_sh")) + F.lit(1e-9), 4
        ).alias("mean_novelty"),
        F.sum(F.when(n_novel == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fully_seen"),
    )


def _lsh_stats_oracle() -> str:
    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" ({_band_bucket_sql(b)})::BIGINT AS bucket FROM sig"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
    WITH sig AS ({_minhash_sig_sql()}),
    banded AS ({banded}),
    occ AS (
        SELECT band, bucket, count(*) AS sz
        FROM banded GROUP BY band, bucket
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(sz AS BIGINT) AS bucket_size,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS pair_cost
    FROM occ GROUP BY band, sz
    """


@register("q_dedup_lsh_stats", oracle=_lsh_stats_oracle())
def q_dedup_lsh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy diagnostics for the MinHash index: per
    band, the bucket-size histogram and the candidate-pair cost
    Σ C(size, 2) each size class contributes — the tuning readout that
    tells you BEFORE running dedup whether a hot bucket is about to
    blow up the pair join (the q_dedup_ngram df-cap decision, made
    observable).  Healthy LSH is geometric: almost all buckets
    singletons, pair_cost concentrated in small sizes.

    Shape: the same signature kernel + banding as q_dedup_minhash —
    read from the shared memoized signature frame, so a session that
    runs both queries pays the Arrow kernel once — then TWO map-side-
    combined aggs: (band, bucket) occupancy, then the per-(band,
    size) histogram.  Output bounded by |bands| × max-bucket-size;
    never materializes a posting list or a pair."""
    sigs = minhash_signature_frame(spark, sf_dir)
    banded = sigs.selectExpr(
        "doc_id", f"explode({_banded_expr()}) AS bk"
    ).selectExpr("bk.band AS band", "bk.bucket AS bucket")
    occ = banded.groupBy("band", "bucket").agg(F.count("*").alias("sz"))
    return occ.groupBy(
        F.expr("CAST(band AS BIGINT) AS band"),
        F.expr("CAST(sz AS BIGINT) AS bucket_size"),
    ).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_buckets"),
        F.expr("CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS pair_cost"),
    )


@register(
    "q_text_jsd",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    cnt_st AS (
        SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
    ),
    cnt_t AS (SELECT token, sum(c) AS ct FROM cnt_st GROUP BY token),
    tot_s AS (SELECT source, sum(c) AS ts FROM cnt_st GROUP BY source),
    tot AS (SELECT sum(ct) AS t FROM cnt_t),
    srcs AS (SELECT DISTINCT source FROM cnt_st),
    grid AS (
        SELECT s.source, c.token, c.ct, coalesce(st.c, 0) AS cs
        FROM srcs s
        CROSS JOIN cnt_t c
        LEFT JOIN cnt_st st ON st.source = s.source AND st.token = c.token
    ),
    terms AS (
        SELECT g.source,
               tot_s.ts,
               0.5 * (CASE WHEN g.cs > 0
                           THEN (g.cs * 1.0 / tot_s.ts)
                                * ln((g.cs * 1.0 / tot_s.ts)
                                     / ((g.cs * 1.0 / tot_s.ts)
                                        + (g.ct * 1.0 / tot.t)) * 2)
                           ELSE 0 END)
               + 0.5 * (g.ct * 1.0 / tot.t)
                     * ln((g.ct * 1.0 / tot.t)
                          / ((CASE WHEN g.cs > 0
                                   THEN g.cs * 1.0 / tot_s.ts
                                   ELSE 0 END)
                             + (g.ct * 1.0 / tot.t)) * 2) AS term
        FROM grid g
        JOIN tot_s ON tot_s.source = g.source
        CROSS JOIN tot
    )
    SELECT source,
           CAST(max(ts) AS BIGINT) AS n_tokens,
           round(sum(term) + 1e-9, 4) AS jsd
    FROM terms GROUP BY source
    """,
)
def q_text_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    vs the whole corpus — the bounded symmetric drift readout (0 =
    identical mix, ln 2 = disjoint vocabularies) a curation pipeline
    tracks per ingest source, complementing q_mix_kl's cell-level KL
    with token-level divergence.

    JSD(P_s ‖ P_corpus) = ½ΣP_s ln(P_s/M) + ½ΣP_corpus ln(P_corpus/M),
    M = (P_s + P_corpus)/2.  Tokens absent from a source contribute
    only the corpus half (P_s = 0 ⇒ its term is 0 by the x·ln x → 0
    limit), so the union-of-vocabularies sum is exactly the corpus
    vocabulary — materialized as the |sources| × |vocab| grid (source
    domain is bounded, so the cross is vocab-sized, never corpus-
    sized).

    Determinism: every probability is a ratio of integer counts —
    identical doubles cross-engine — so each per-token term is
    bit-identical; only the final Σ differs in summation order (4-dp
    +1e-9 absorbs it).  Scale: one token explode (the corpus pass),
    then everything is keyed on token or source; the hot cnt_t frame
    shuffles once on token and the grid join is an equi-join on it."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    cnt_st = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    cnt_st = cnt_st.localCheckpoint(eager=False)
    cnt_t = cnt_st.groupBy("token").agg(F.sum("c").alias("ct"))
    tot_s = cnt_st.groupBy("source").agg(F.sum("c").alias("ts"))
    tot = cnt_t.agg(F.sum("ct").alias("t"))
    srcs = cnt_st.select("source").distinct()
    grid = (
        F.broadcast(srcs)
        .crossJoin(cnt_t)
        .join(cnt_st, ["source", "token"], "left")
        .select(
            "source", "token", "ct", F.coalesce(F.col("c"), F.lit(0)).alias("cs")
        )
    )
    terms = (
        grid.join(F.broadcast(tot_s), "source")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("cs") * 1.0 / F.col("ts")
    q = F.col("ct") * 1.0 / F.col("t")
    term = F.lit(0.5) * F.when(
        F.col("cs") > 0, p * F.log(p / (p + q) * 2)
    ).otherwise(F.lit(0.0)) + F.lit(0.5) * q * F.log(
        q
        / (F.when(F.col("cs") > 0, p).otherwise(F.lit(0.0)) + q)
        * 2
    )
    return (
        terms.select("source", "ts", term.alias("term"))
        .groupBy("source")
        .agg(
            F.max("ts").cast("bigint").alias("n_tokens"),
            F.round(F.sum("term") + F.lit(1e-9), 4).alias("jsd"),
        )
    )


def _minhash_eval_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(lower(text), ' ')))
                   AS token
        FROM documents WHERE doc_id < 100
    ),
    sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
    inter AS (
        SELECT ta.doc_id AS a_id, tb.doc_id AS b_id, count(*) AS ni
        FROM tok ta JOIN tok tb
          ON tb.token = ta.token AND ta.doc_id < tb.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT a_id, b_id FROM (
            SELECT a_id, b_id,
                   round(ni / (sa.n_tok + sb.n_tok - ni)::DOUBLE, 4) AS j
            FROM inter
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
        ) WHERE j >= {_JACCARD_THRESHOLD}
    ),
    found AS (
        SELECT a_id, b_id FROM ({_minhash_oracle()})
        WHERE a_id < 100 AND b_id < 100
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
           CAST((SELECT count(*) FROM truth t
                 JOIN found f ON f.a_id = t.a_id AND f.b_id = t.b_id)
                AS BIGINT) AS n_hit,
           round((SELECT count(*) FROM truth t
                  JOIN found f ON f.a_id = t.a_id AND f.b_id = t.b_id)
                 * 1e0 / nullif((SELECT count(*) FROM truth), 0)
                 + 1e-9, 4) AS recall
    """


@register("q_dedup_minhash_eval", oracle=_minhash_eval_oracle())
def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall audit (q_embed_recall_at_k's dedup twin):
    over a bounded probe subcorpus (doc_id < 100), compare the
    LSH-found near-dup pairs against brute-force exact token-Jaccard
    ground truth — the banding-parameter tuning readout (b=8, r=4
    gives ~40% detection at exactly-threshold similarity, rising
    steeply above; pairs the LSH misses are band-collision misses, the
    quantity this measures).  Precision is 1 by construction (every
    candidate is exact-verified), so recall is the whole story.

    Shape: BOTH sides are probe-bounded.  The truth side is an
    all-pairs token-intersection join on the probe set (the
    q_sim_pairs probe-bounding pattern — never on the corpus).  The
    found side runs the same minhash_pairs plan on the probe subset
    directly: a doc's signature and band keys depend only on its own
    text, so probe×probe LSH pairs from the 100-doc kernel are
    IDENTICAL to the full-corpus pairs filtered to probe ids (the
    oracle keeps the filtered-full-corpus formulation as the
    independent witness of exactly that equivalence) — at 100 TB this
    is a corpus scan replaced by a 100-doc kernel.  The comparison is
    a pair-keyed join between two small frames → one 1-row summary."""
    d = table(spark, sf_dir, "documents")
    probe = d.filter(F.col("doc_id") < 100)
    # Column algebra below is SQL-text (r13, guide §4): same operator
    # tree as the Column-method form it replaces (spot-diffed plans),
    # built in ~⅓ the Py4J round-trips — this was profile_build's #3
    # pure-construction entry (1 494 calls/build).
    tok = probe.selectExpr(
        "doc_id", "explode(array_distinct(split(lower(text), ' '))) AS token"
    ).localCheckpoint(eager=False)
    sizes = tok.groupBy("doc_id").agg(F.expr("count(*) AS n_tok"))
    ta = tok.selectExpr("doc_id AS a_id", "token")
    tb = tok.selectExpr("doc_id AS b_id", "token")
    inter = (
        ta.join(tb, "token")
        .filter("a_id < b_id")
        .groupBy("a_id", "b_id")
        .agg(F.expr("count(*) AS ni"))
    )
    truth = (
        inter.join(
            F.broadcast(sizes.selectExpr("doc_id AS a_id", "n_tok AS na")),
            "a_id",
        )
        .join(
            F.broadcast(sizes.selectExpr("doc_id AS b_id", "n_tok AS nb")),
            "b_id",
        )
        .withColumn("j", F.expr("round(ni / (na + nb - ni), 4)"))
        .filter(f"j >= {_JACCARD_THRESHOLD}")
        .select("a_id", "b_id")
    )
    truth = truth.localCheckpoint(eager=False)
    found = minhash_pairs(probe).selectExpr("a_id", "b_id AS fb_id")
    hit = truth.join(
        found,
        (truth["a_id"] == found["a_id"]) & (truth["b_id"] == found["fb_id"]),
        "left_semi",
    )
    nt = truth.agg(F.expr("count(*) AS n_true"))
    nf = found.agg(F.expr("count(*) AS n_found"))
    nh = hit.agg(F.expr("count(*) AS n_hit"))
    return (
        nt.crossJoin(F.broadcast(nf))
        .crossJoin(F.broadcast(nh))
        .selectExpr(
            "CAST(n_true AS BIGINT) AS n_true",
            "CAST(n_found AS BIGINT) AS n_found",
            "CAST(n_hit AS BIGINT) AS n_hit",
            "round(n_hit / nullif(n_true, 0) + 1e-9, 4) AS recall",
        )
    )


@register(
    "q_text_hapax",
    oracle="""
    WITH tok AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
    a AS (
        SELECT count(*) AS v,
               sum(tf) AS n,
               sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS v1,
               sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS v2,
               sum(tf * (tf - 1)) AS rep
        FROM freq
    )
    SELECT CAST(v AS BIGINT) AS vocab_size,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(v1 AS BIGINT) AS hapax,
           CAST(v2 AS BIGINT) AS dis_legomena,
           round(v1 / CAST(v AS DOUBLE) + 1e-9, 4) AS hapax_ratio,
           round(ln(v) / ln(n) + 1e-9, 4) AS herdan_c,
           round(rep / (CAST(n AS DOUBLE) * (n - 1)) + 1e-9, 6)
               AS simpson_d
    FROM a
    """,
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth diagnostics for the corpus: hapax legomena
    count/ratio (tokens seen exactly once — a high ratio means the
    vocabulary is still growing and a tokenizer trained on this corpus
    will underfit the tail), Herdan's C = ln V/ln N (lexical richness
    that, unlike raw V/N, is roughly corpus-size invariant under
    Heaps' law), and Simpson's lexical concentration D = Σ tf(tf−1) /
    (N(N−1)) (probability two random tokens coincide — the repetition
    mass q_text_zipf's top-k head can't summarize).

    Shape: explode → ONE map-side-combined token-frequency agg → a
    1-row frequency-of-frequencies reduce; every statistic is integer-
    exact until the final ratios.  The frequency frame is the same
    shape q_text_vocab builds — vocabulary-bounded, never row-bounded."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    tf = F.col("tf")
    a = freq.agg(
        F.count("*").alias("v"),
        F.sum(tf).alias("n"),
        F.sum(F.when(tf == 1, 1).otherwise(0)).alias("v1"),
        F.sum(F.when(tf == 2, 1).otherwise(0)).alias("v2"),
        F.sum(tf * (tf - 1)).alias("rep"),
    )
    v, n = F.col("v"), F.col("n")
    return a.select(
        v.cast("bigint").alias("vocab_size"),
        n.cast("bigint").alias("n_tokens"),
        F.col("v1").cast("bigint").alias("hapax"),
        F.col("v2").cast("bigint").alias("dis_legomena"),
        F.round(F.col("v1") / v.cast("double") + F.lit(1e-9), 4).alias(
            "hapax_ratio"
        ),
        F.round(F.log(v.cast("double")) / F.log(n.cast("double")) + F.lit(1e-9), 4).alias(
            "herdan_c"
        ),
        F.round(
            F.col("rep") / (n.cast("double") * (n - 1)) + F.lit(1e-9), 6
        ).alias("simpson_d"),
    )


_LOGODDS_MIN_TF = 5      # corpus-frequency floor for candidate terms
_LOGODDS_TOPK = 3        # terms reported per source
_LOGODDS_ALPHA = 0.5     # symmetric Dirichlet pseudo-count


@register(
    "q_text_logodds",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    st AS (
        SELECT source, token, count(*) AS y FROM tok GROUP BY source, token
    ),
    keep AS (
        SELECT token, sum(y) AS tf FROM st GROUP BY token
        HAVING sum(y) >= {_LOGODDS_MIN_TF}
    ),
    ns AS (
        SELECT st.source, sum(st.y) AS n_s
        FROM st JOIN keep USING (token) GROUP BY st.source
    ),
    nt AS (SELECT ns.*, sum(n_s) OVER () AS n_all FROM ns),
    base AS (
        SELECT st.source, st.token, st.y,
               keep.tf - st.y AS y_out, nt.n_s, nt.n_all
        FROM st JOIN keep USING (token) JOIN nt USING (source)
    ),
    z AS (
        SELECT source, token, y, y_out,
               ln((y + {_LOGODDS_ALPHA}) / (n_s - y + {_LOGODDS_ALPHA}))
                 - ln((y_out + {_LOGODDS_ALPHA})
                      / (n_all - n_s - y_out + {_LOGODDS_ALPHA}))
                   AS delta,
               sqrt(1.0 / (y + {_LOGODDS_ALPHA})
                    + 1.0 / (y_out + {_LOGODDS_ALPHA})) AS sd
        FROM base
    ),
    r AS (
        SELECT source, token, y, y_out,
               round(delta + 1e-9, 4) AS log_odds,
               round(delta / sd + 1e-11, 6) AS zs,
               row_number() OVER (PARTITION BY source
                                  ORDER BY round(delta / sd + 1e-11, 6)
                                           DESC, token) AS rnk
        FROM z
    )
    SELECT source, CAST(rnk AS INTEGER) AS rank, token,
           CAST(y AS BIGINT) AS count_in,
           CAST(y_out AS BIGINT) AS count_out,
           log_odds, round(zs + 1e-9, 4) AS z
    FROM r WHERE rnk <= {_LOGODDS_TOPK}
    ORDER BY source, rank
    """,
)
def q_text_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinguishing vocabulary per source via log-odds with a
    Dirichlet prior (Monroe-Colaresi-Quinn "Fightin' Words"): for each
    source, the top terms whose usage odds most exceed the REST of the
    corpus, ranked by the prior-regularized z-score — the principled
    replacement for raw TF-IDF source profiling (which over-ranks rare
    noise; the prior's variance term kills that).  The corpus-drift /
    source-characterization readout a mixing plan reads before
    reweighting.

    Shape: explode → (source, token) hash agg; a corpus-frequency
    floor bounds the candidate frame (vocabulary-bounded, never
    row-bounded); the per-source totals are a k-row aggregate
    broadcast back (never a source-partitioned window — 5 sources
    would mean 5 tasks), and the top-k window partitions by source
    over the z-scored frame with deterministic (z, token) tiebreaks.
    z is 6-dp rounded BEFORE ranking so both engines order
    identically."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(F.count("*").alias("y"))
    keep = (
        st.groupBy("token")
        .agg(F.sum("y").alias("tf"))
        .filter(F.col("tf") >= _LOGODDS_MIN_TF)
    )
    cand = st.join(keep, "token")
    ns = cand.groupBy("source").agg(F.sum("y").alias("n_s"))
    nt = ns.withColumn(
        "n_all", F.sum("n_s").over(Window.partitionBy())
    )
    base = cand.join(F.broadcast(nt), "source").select(
        "source",
        "token",
        "y",
        (F.col("tf") - F.col("y")).alias("y_out"),
        "n_s",
        "n_all",
    )
    a = F.lit(_LOGODDS_ALPHA)
    delta = F.log(
        (F.col("y") + a) / (F.col("n_s") - F.col("y") + a)
    ) - F.log(
        (F.col("y_out") + a)
        / (F.col("n_all") - F.col("n_s") - F.col("y_out") + a)
    )
    sd = F.sqrt(1.0 / (F.col("y") + a) + 1.0 / (F.col("y_out") + a))
    z = base.select(
        "source",
        "token",
        "y",
        "y_out",
        F.round(delta + F.lit(1e-9), 4).alias("log_odds"),
        F.round(delta / sd + F.lit(1e-11), 6).alias("zs"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("zs"), F.asc("token"))
    r = z.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _LOGODDS_TOPK
    )
    return r.select(
        "source",
        F.col("rnk").cast("int").alias("rank"),
        "token",
        F.col("y").cast("bigint").alias("count_in"),
        F.col("y_out").cast("bigint").alias("count_out"),
        "log_odds",
        F.round(F.col("zs") + F.lit(1e-9), 4).alias("z"),
    ).orderBy("source", "rank")


_OOV_VOCAB_K = 1000   # corpus-head "tokenizer vocabulary" size


@register(
    "q_text_oov",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
    vocab AS (
        SELECT token FROM freq
        ORDER BY tf DESC, token LIMIT {_OOV_VOCAB_K}
    ),
    marked AS (
        SELECT tok.source, tok.token,
               CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok LEFT JOIN vocab ON vocab.token = tok.token
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           round(sum(oov) / CAST(count(*) AS DOUBLE) + 1e-9, 4)
               AS oov_rate,
           round(sum(CASE WHEN oov = 1 THEN length(token) ELSE 0 END)
                 / CAST(nullif(sum(oov), 0) AS DOUBLE) + 1e-9, 4)
               AS avg_oov_len,
           CAST(sum(oov) / CAST(count(*) AS DOUBLE) > 15e-2 AS BOOLEAN)
               AS vocab_mismatch
    FROM marked GROUP BY source ORDER BY source
    """,
)
def q_text_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit per source against a corpus-head
    "tokenizer vocabulary" (the top-1k tokens by frequency, the
    stand-in for a trained subword vocab): OOV token share and the
    mean length of OOV tokens — the source whose OOV rate spikes is
    the one your tokenizer will shred into character fallbacks
    (inflating sequence length and cost), the per-source drill-down
    under q_text_hapax's corpus-level tail.

    Shape: token-frequency agg → distributed top-k head (TakeOrdered,
    never a global sort) → broadcast vocab semi-probe back onto the
    token stream → per-source conditional agg.  The vocab is a fixed-k
    broadcast at any corpus size; ties broken by token so both engines
    cut the identical head."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    freq = tok.groupBy("token").agg(F.count("*").alias("tf"))
    vocab = freq.orderBy(F.desc("tf"), F.asc("token")).limit(
        _OOV_VOCAB_K
    ).select("token", F.lit(1).alias("in_vocab"))
    marked = tok.join(F.broadcast(vocab), "token", "left").select(
        "source",
        "token",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    n = F.count("*")
    oov_sum = F.sum("oov")
    return (
        marked.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_tokens"),
            oov_sum.cast("bigint").alias("n_oov"),
            F.round(
                oov_sum / n.cast("double") + F.lit(1e-9), 4
            ).alias("oov_rate"),
            F.round(
                F.sum(
                    F.when(F.col("oov") == 1, F.length("token")).otherwise(0)
                )
                / F.nullif(oov_sum, F.lit(0)).cast("double")
                + F.lit(1e-9),
                4,
            ).alias("avg_oov_len"),
            (oov_sum / n.cast("double") > 0.15).alias("vocab_mismatch"),
        )
        .orderBy("source")
    )


# --- Round-10 registrations (formerly operators/staged_r10.py, the
# [STAGED r10] batch #434-450): moved into their family modules at
# the registration flip (VERDICT r9 §Next-round #2). ---


@register(
    "q_text_ngram_coverage",
    oracle="""
    WITH counts AS (
        SELECT bigram, count(*) AS n
        FROM (
            SELECT unnest(list_transform(
                     range(1, len(string_split(lower(text), ' '))),
                     i -> string_split(lower(text), ' ')[i] || ' ' ||
                          string_split(lower(text), ' ')[i + 1])) AS bigram
            FROM documents
        )
        GROUP BY bigram
    ),
    top AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, bigram) AS rnk
        FROM counts ORDER BY n DESC, bigram LIMIT 500
    ),
    tot AS (SELECT sum(n) AS total FROM counts),
    ks AS (SELECT unnest([10, 50, 100, 500]) AS k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           CAST(sum(top.n) AS BIGINT) AS covered,
           CAST(tot.total AS BIGINT) AS total,
           round(CAST(sum(top.n) AS DOUBLE) / CAST(tot.total AS DOUBLE)
                 + 1e-12, 4) + 0.0 AS coverage
    FROM ks JOIN top ON top.rnk <= ks.k CROSS JOIN tot
    GROUP BY ks.k, tot.total
    ORDER BY k
    """,
)
def q_text_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram coverage curve: what fraction of all bigram occurrences
    the top-{10,50,100,500} bigrams account for — the Zipf-mass
    concentration number that sizes n-gram LM tables, dedup shingle
    filters, and stopword lists (q_text_bigrams lists the head;
    this measures how heavy the head IS).

    Shape: the corpus bigram count table (exact integers), a top-500
    cut via TakeOrdered (LIMIT bounds the frame, so the rank window
    runs over ≤500 rows — never a global sort of the vocabulary), a
    1-row total, and a 4-row k-frame joined on rank."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    bigrams = F.filter(
        F.zip_with(
            words,
            F.slice(words, 2, F.lit(1 << 30)),
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        ),
        lambda s: s.isNotNull(),
    )
    counts = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("bigram")).limit(500)
    rnk = Window.orderBy(F.desc("n"), F.asc("bigram"))
    top = top.withColumn("rnk", F.row_number().over(rnk))
    tot = counts.agg(F.sum("n").alias("total"))
    ks = spark.createDataFrame([(10,), (50,), (100,), (500,)], "k int")
    return (
        F.broadcast(ks)
        .join(top, F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("n").alias("covered"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.col("covered").cast("bigint").alias("covered"),
            F.col("total").cast("bigint").alias("total"),
            (
                F.round(
                    F.col("covered").cast("double")
                    / F.col("total").cast("double")
                    + F.lit(1e-12),
                    4,
                )
                + F.lit(0.0)
            ).alias("coverage"),
        )
        .orderBy("k")
    )


@register(
    "q_text_burstiness",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    per_doc AS (
        SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2
    ),
    stats AS (
        SELECT token,
               count(*) AS df,
               sum(c) AS total,
               sum(CAST(c AS DOUBLE) * c) AS sumsq
        FROM per_doc GROUP BY token
        ORDER BY df DESC, token LIMIT 20
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT token,
           CAST(df AS BIGINT) AS df,
           CAST(total AS BIGINT) AS total,
           round(total / (1.0 * df) + 1e-9, 4) + 0.0 AS per_doc_rate,
           round(
             (sumsq / (1.0 * n_docs)
              - (total / (1.0 * n_docs)) * (total / (1.0 * n_docs)))
             / (total / (1.0 * n_docs)) + 1e-9, 4) + 0.0 AS vmr
    FROM stats CROSS JOIN nd
    ORDER BY df DESC, token
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Church-Gale) for the 20 highest-df tokens:
    per-containing-doc rate (total/df — 'once it appears, how often?')
    and the zero-inclusive variance-to-mean ratio (VMR > 1 = bursty
    content word, VMR ≈ 1 = Poisson-like function word).  The
    mixture-model diagnostic behind stopword lists and tf saturation
    curves — q_text_zipf ranks the frequency mass, this measures its
    CLUMPINESS across documents.

    Zero-count docs enter the moments closed-form (Σc, Σc² over
    occurrences + the document total N), never as materialized zero
    rows; everything is an exact integer until the two final
    divisions."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    per_doc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    stats = (
        per_doc.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum("c").alias("total"),
            F.sum(F.col("c").cast("double") * F.col("c")).alias("sumsq"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(20)
    )
    nd = d.agg(F.count("*").alias("n_docs"))
    mean = F.col("total") / (1.0 * F.col("n_docs"))
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "token",
            F.col("df").cast("bigint").alias("df"),
            F.col("total").cast("bigint").alias("total"),
            (
                F.round(F.col("total") / (1.0 * F.col("df")) + F.lit(1e-9), 4)
                + F.lit(0.0)
            ).alias("per_doc_rate"),
            (
                F.round(
                    (F.col("sumsq") / (1.0 * F.col("n_docs")) - mean * mean)
                    / mean
                    + F.lit(1e-9),
                    4,
                )
                + F.lit(0.0)
            ).alias("vmr"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
    )
