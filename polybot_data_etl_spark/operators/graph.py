"""Graph analytics over the relational fixtures (SURVEY.md §2 ext).

The engine already runs one iterative graph algorithm (connected
components inside the dedup family, functions/dedup.py); this module
adds the OLAP-style *bounded-iteration* graph queries that stay fully
SQL-expressible: a fixed-depth PageRank over the nation-level trade
graph.  Unbounded-convergence variants would follow the
component_labels superstep pattern; the bounded form unrolls instead so
the DuckDB oracle can replay it exactly.

Scale posture: the edge list is a pre-aggregated (src, dst, weight)
frame — at 100 TB the raw joins shuffle once on their equi-keys and the
map-side combine collapses to |nations|² rows before any iteration; the
per-iteration join is a broadcast (the rank vector is one row per node,
bounded by the dimension table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.plans.memo import memo
from polybot_data_etl_spark.registry import register

_PR_DAMPING = 0.85
_PR_ITERS = 3


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (a, b), a < b, over parts
    with ``l_partkey % 4 == 0`` — the shared base graph of SEVEN
    q_graph_* queries (triangles, degree, assortativity, kcore,
    clustering, link_predict, centralization).  Memoized per session as
    one lazily checkpointed frame: the first consumer materializes ~75 k
    edges executor-locally, every later graph query reads the blocks.
    Built via the basket-bounded explode² (zero join shuffles, fan-out
    bounded by basket size), not the O(rows²/orders) self-join."""
    return memo(
        spark,
        ("copurchase_edges", sf_dir),
        lambda: _build_copurchase_edges(spark, sf_dir),
    )


def _build_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    ea = baskets.select("parts", F.explode("parts").alias("a"))
    return (
        ea.select("a", F.explode("parts").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _pagerank_oracle() -> str:
    d = _PR_DAMPING
    prev = "pr0"
    iter_ctes = []
    for i in range(1, _PR_ITERS + 1):
        iter_ctes.append(
            f"""pr{i} AS (
        SELECT n.node,
               {1 - d} / N + {d} * coalesce(m.mass, 0) AS pr
        FROM nodes n CROSS JOIN nn
        LEFT JOIN (
            SELECT norm.dst, sum(p.pr * norm.p) AS mass
            FROM norm JOIN {prev} p ON p.node = norm.src
            GROUP BY norm.dst
        ) m ON m.dst = n.node
    )"""
        )
        prev = f"pr{i}"
    return f"""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               count(*)::DOUBLE AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
    norm AS (
        SELECT e.src, e.dst, e.w / o.tw AS p
        FROM edges e JOIN outw o USING (src)
    ),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    nn AS (SELECT count(*)::DOUBLE AS N FROM nodes),
    pr0 AS (SELECT node, 1.0 / N AS pr FROM nodes CROSS JOIN nn),
    {",".join(iter_ctes)}
    SELECT n.node, n.n_name, round(p.pr, 6) AS pagerank
    FROM nodes n JOIN {prev} p USING (node)
    """


@register("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-depth (3-iteration) PageRank over the customer-nation →
    supplier-nation trade graph, edge weight = number of lineitems
    shipped along that nation pair, damping 0.85 — 'which nations sit
    at the center of the supply network'.

    The iteration count is fixed, so the Spark side is a plain Python
    loop emitting one declarative plan (no collect, no driver data) and
    the oracle unrolls the same three steps as CTEs — both engines run
    the identical dataflow, keeping the hash gate exact.  Teleport and
    damping use the same algebra on both sides; per-destination mass is
    a sum of ≤|nations| doubles, so cross-engine sum-order ulps sit far
    below the 6-decimal rounding.

    Shape at 100 TB: the fact-side joins are equi-joins on orderkey/
    custkey/suppkey (dims broadcast), collapsed by map-side combine to a
    |N|² edge frame; every per-iteration join touches only node-sized
    frames (broadcast), so iterating is free of full-data shuffles."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return pagerank_fold(edges, nodes)


def pagerank_fold(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node, n_name, pagerank) over weighted (src, dst, w) edges and
    (node, n_name) nodes; an edge whose src is not a node carries no
    mass, as in the oracle's inner join."""
    # r13 (VERDICT r12 §next #5, guide §5): the per-iteration dataflow
    # — broadcast(pr) join → mass groupBy → left-join teleport, ×3 —
    # cost a job WAVE per tiny exchange (19 executed jobs; the old
    # localCheckpoint also forced the fact joins at plan-build time).
    # Both node and edge frames are SCHEMA-bounded (|nations| = 25,
    # ≤ |nations|² edges), so the whole fixed-point runs as ONE
    # sequence-fold over collected arrays — executor-side HOFs on a
    # 1-row frame, no driver data math, no per-iteration exchange.
    # aggregate() binds the accumulator per step, so iteration k
    # evaluates vector k−1 exactly once (a chained-projection form
    # would be inlined by CollapseProject and re-evaluate it per edge).
    # Numerics: collect_list is sort_array'd (deterministic fold
    # order); out-weights are sums of integer-valued doubles (exact in
    # any order), so p = w/tw is bit-identical to the old groupBy
    # form; per-dst mass sums ≤|nations| doubles, the same ulp band
    # the 6-dp round already absorbs (value-equality vs the unfolded
    # form pinned in tests/test_round13.py).
    ed = edges.agg(
        F.expr("sort_array(collect_list(struct(src, dst, w))) AS es")
    )
    nd = nodes.agg(F.expr("sort_array(collect_list(node)) AS ns"))
    pos = "CAST(array_position(ns, e.src) AS INT)"
    # position 0 = src absent from ns: element_at(_, 0) raises
    src_pr = f"IF({pos} > 0, element_at(st.pr, {pos}), 0.0D)"
    # out-weight-normalized edge array, bound ONCE as the fold's init
    # (a plain projection would be inlined by CollapseProject and
    # re-evaluated per lambda reference)
    es2 = (
        "transform(es, e -> named_struct('src', e.src, 'dst', e.dst,"
        " 'p', e.w / aggregate(filter(es, x -> x.src = e.src), 0.0D,"
        " (a, x) -> a + x.w)))"
    )
    fold = (
        f"aggregate(sequence(1, {_PR_ITERS}),"
        " named_struct("
        "'pr', transform(ns, j -> 1.0D / CAST(size(ns) AS DOUBLE)),"
        f" 'en', {es2}),"
        " (st, it) -> named_struct('pr', transform(ns, j ->"
        f" {1 - _PR_DAMPING}D / CAST(size(ns) AS DOUBLE)"
        f" + {_PR_DAMPING}D * aggregate(filter(st.en, e -> e.dst = j),"
        f" 0.0D, (acc, e) -> acc + {src_pr} * e.p)),"
        " 'en', st.en),"
        " st -> st.pr)"
    )
    return (
        ed.crossJoin(F.broadcast(nd))
        .selectExpr("ns", f"{fold} AS pr")
        .selectExpr("posexplode(ns) AS (i, node)", "pr")
        .selectExpr("node", "round(element_at(pr, i + 1), 6) AS pagerank")
        .join(nodes, "node")
        .select("node", "n_name", "pagerank")
    )


@register(
    "q_graph_triangles",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    )
    SELECT (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*)
            FROM e ab JOIN e bc ON bc.a = ab.b
                      JOIN e ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (parts appearing in
    the same order, 25%-of-parts stratum to bound graph density).

    Spark side counts by **degree-ordered edge orientation** (the
    classic wedge-bounding trick): every undirected edge points from
    its lower-(degree, key) endpoint to the higher one, wedges are
    generated only at each edge's *lower-ranked* endpoint, and a wedge
    closes iff its (v, w) arm exists in the oriented edge set.  Each
    triangle is generated exactly once, and the wedge count drops from
    Σ C(deg, 2) to Σ C(out-deg, 2) with out-deg ≤ √(2|E|) — the
    difference between a hot part with degree 10⁵ producing 5·10⁹
    wedges and ~10⁵·√|E|.  The oracle replays the naive a<b<c
    three-way join, which must agree on the count.

    Pipeline: one fact self-join on l_orderkey (shuffle 1) → distinct
    edge set (shuffle 2) → degree agg over both endpoints (map-side
    combined) → wedge join + closing-edge semi-probe on (v, w).  All
    joins are equi-joins on graph keys; nothing is quadratic in a
    node's raw degree after orientation.
    """
    # Shared memoized edge frame (round 8): referenced by degree agg +
    # orientation + wedge join + closing probe, and by six sibling
    # graph queries — one kernel per session.
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    ranked = (
        edges.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            "a",
            "b",
            F.col("da.deg").alias("deg_a"),
            F.col("db.deg").alias("deg_b"),
        )
    )
    # Orient low-(deg, key) → high-(deg, key); (deg, key) is a total
    # order so orientation is deterministic and acyclic.
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("deg_a")).otherwise(F.col("deg_b")).alias("deg_u"),
        F.when(lower_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).localCheckpoint(eager=False)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Wedges at the common lower endpoint u, arms ordered by the same
    # (deg, key) rank so each unordered wedge appears once.
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u"))
        & (
            (F.col("e1.deg_v") < F.col("e2.deg_v"))
            | (
                (F.col("e1.deg_v") == F.col("e2.deg_v"))
                & (F.col("e1.v") < F.col("e2.v"))
            )
        ),
    ).select(F.col("e1.v").alias("w1"), F.col("e2.v").alias("w2"))
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    )
    tri = wedges.join(closing, ["w1", "w2"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return n_edges.crossJoin(F.broadcast(tri))


@register(
    "q_graph_degree",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node
    )
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph (same edge
    set as q_graph_triangles): how many nodes have each degree — the
    first diagnostic of any graph workload (hubs ⇒ skew risk for the
    wedge join; the distribution's tail width IS the orientation
    trick's justification).

    Shape: fact self-join on l_orderkey → distinct edge set (both
    shuffles shared with the triangles pipeline at 100 TB via a
    materialized edge table) → endpoint union → two map-side-combined
    aggs (node degree, then degree histogram).  Output is bounded by
    the max degree, not the node count."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return deg.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


@register(
    "q_graph_two_hop",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),
    one AS (SELECT src, count(*) AS n_1hop FROM edges GROUP BY src),
    two AS (
        SELECT a.src, count(DISTINCT b.dst) AS n_2hop
        FROM edges a JOIN edges b ON b.src = a.dst
        WHERE b.dst <> a.src
        GROUP BY a.src
    )
    SELECT n.n_name,
           CAST(coalesce(one.n_1hop, 0) AS BIGINT) AS n_1hop,
           CAST(coalesce(two.n_2hop, 0) AS BIGINT) AS n_2hop
    FROM nation n
    LEFT JOIN one ON one.src = n.n_nationkey
    LEFT JOIN two ON two.src = n.n_nationkey
    """,
)
def q_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachability profile of the nation trade graph: per
    nation, the count of direct trade partners and of distinct
    partners-of-partners (excluding self) — the neighborhood-expansion
    read feeding friend-of-friend recommendations and influence-radius
    estimates.

    Shape: the edge list is DISTINCT (src, dst) — the four-way
    relational join collapses to ≤|nations|² rows map-side before any
    graph work, so the 2-hop self-join and both distinct-count aggs
    run on a dimension-bounded frame; at 100 TB only the edge
    extraction touches facts (one pass).  Oracle: identical edge CTE +
    self-join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    edges = edges.localCheckpoint(eager=False)
    one = edges.groupBy(F.col("src").alias("src1")).agg(
        F.count("*").alias("n_1hop")
    )
    b = edges.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
    two = (
        edges.join(b, edges["dst"] == b["mid"])
        .filter(F.col("dst2") != F.col("src"))
        .groupBy(F.col("src").alias("src2"))
        .agg(F.countDistinct("dst2").alias("n_2hop"))
    )
    return (
        n.join(one, n["n_nationkey"] == one["src1"], "left")
        .join(two, n["n_nationkey"] == two["src2"], "left")
        .select(
            "n_name",
            F.coalesce("n_1hop", F.lit(0)).cast("bigint").alias("n_1hop"),
            F.coalesce("n_2hop", F.lit(0)).cast("bigint").alias("n_2hop"),
        )
    )


@register(
    "q_graph_assortativity",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    sym AS (
        SELECT a AS src, b AS dst FROM e
        UNION ALL
        SELECT b AS src, a AS dst FROM e
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
    j AS (
        SELECT da.d::DOUBLE AS x, db.d::DOUBLE AS y
        FROM sym s
        JOIN deg da ON da.node = s.src
        JOIN deg db ON db.node = s.dst
    ),
    m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM j
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx)
                               * (n * syy - sy * sy)), 0)
                 + 1e-9, 4) AS assortativity
    FROM m
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Newman's r:
    the Pearson correlation of endpoint degrees over all edge
    orientations) — positive means popular parts co-occur with popular
    parts, negative means hub-and-spoke; the one-number topology
    summary next to q_graph_degree's distribution.  Runs on the same
    25%-stratum co-purchase edge set as q_graph_triangles (the nation
    trade graph is near-regular — degree variance ~0 makes r
    undefined there, guarded by nullif on both engines).

    Shape: one fact self-join on the basket key (bounded per-order
    fan-out) → DISTINCT edge set → symmetric orientation union →
    degree agg → moment reduce, all bounded by the edge count.
    Integer moments → exact algebra → one 4-dp round."""
    e = copurchase_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    sym = sym.localCheckpoint(eager=False)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    j = (
        sym.join(F.broadcast(deg.withColumnsRenamed({"node": "src", "d": "x"})), "src")
        .join(F.broadcast(deg.withColumnsRenamed({"node": "dst", "d": "y"})), "dst")
        .select(
            F.col("x").cast("double").alias("x"),
            F.col("y").cast("double").alias("y"),
        )
    )
    m = j.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        (n / 2).cast("bigint").alias("n_edges"),
        F.round(
            (n * sxy - sx * sy)
            / F.nullif(
                F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                F.lit(0.0),
            )
            + F.lit(1e-9),
            4,
        ).alias("assortativity"),
    )


@register(
    "q_graph_kcore",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    k1 AS (
        SELECT node FROM (SELECT a AS node FROM e0
                          UNION ALL SELECT b FROM e0)
        GROUP BY node HAVING count(*) >= 2
    ),
    e1 AS (
        SELECT e0.a, e0.b FROM e0
        JOIN k1 x ON x.node = e0.a JOIN k1 y ON y.node = e0.b
    ),
    k2 AS (
        SELECT node FROM (SELECT a AS node FROM e1
                          UNION ALL SELECT b FROM e1)
        GROUP BY node HAVING count(*) >= 2
    ),
    e2 AS (
        SELECT e1.a, e1.b FROM e1
        JOIN k2 x ON x.node = e1.a JOIN k2 y ON y.node = e1.b
    ),
    k3 AS (
        SELECT node FROM (SELECT a AS node FROM e2
                          UNION ALL SELECT b FROM e2)
        GROUP BY node HAVING count(*) >= 2
    ),
    e3 AS (
        SELECT e2.a, e2.b FROM e2
        JOIN k3 x ON x.node = e2.a JOIN k3 y ON y.node = e2.b
    )
    SELECT 1 AS round, (SELECT count(*) FROM k1) AS n_nodes,
           (SELECT count(*) FROM e1) AS n_edges
    UNION ALL
    SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
    UNION ALL
    SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
    ORDER BY round
    """,
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling of the part co-purchase graph, 3 unrolled
    rounds: repeatedly drop degree-<2 nodes (and their edges) and
    report survivors per round — the standard densest-region filter
    before any community/triangle analysis (leaf chains contribute
    nothing but wedge noise), converging toward the graph's 2-core.
    Fixed-round unrolling keeps the operator deterministic and oracle-
    expressible (the q_graph_pagerank treatment of an iterative
    algorithm); the per-round survivor counts show the convergence
    trajectory.

    Shape: the (checkpointed) distinct edge set is computed ONCE; each
    round is a degree agg (map-side combined) + two equi-joins of the
    shrinking edge frame against the broadcast-size keep list, with a
    lineage cut per round so round r's plan doesn't replay rounds
    1..r−1.  Per-round outputs are 1-row count aggregates — the only
    cross is 1-row × 1-row."""
    edges = copurchase_edges(spark, sf_dir)
    cur = edges
    per_round = []
    for r in (1, 2, 3):
        deg = (
            cur.select(F.col("a").alias("node"))
            .union(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = (
            deg.filter(F.col("d") >= 2)
            .select("node")
            .localCheckpoint(eager=False)
        )
        cur = (
            cur.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .localCheckpoint(eager=False)
        )
        per_round.append(
            keep.agg(F.count("*").cast("bigint").alias("n_nodes"))
            .crossJoin(
                cur.agg(F.count("*").cast("bigint").alias("n_edges"))
            )
            .select(
                F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges"
            )
        )
    return per_round[0].union(per_round[1]).union(per_round[2]).orderBy(
        "round"
    )


@register(
    "q_graph_clustering",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node
    ),
    wdg AS (
        SELECT count(*) AS n_nodes,
               CAST(sum(d * (d - 1) / 2) AS BIGINT) AS wedges
        FROM deg
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM e ab JOIN e bc ON bc.a = ab.b
                  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    )
    SELECT CAST(wdg.n_nodes AS BIGINT) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           wdg.wedges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           round(3e0 * tri.n_triangles / wdg.wedges + 1e-9, 6)
               AS global_clustering
    FROM wdg CROSS JOIN tri
    """,
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the part
    co-purchase graph: C = 3·triangles / wedges — the one number that
    says whether co-purchases CLUSTER into product communities (high
    C ⇒ basket-completion recommendations work) or form hub-and-spoke
    stars (C → 0).  Composes the q_graph_triangles count with the
    q_graph_degree wedge mass.

    Shape: the triangle count rides q_graph_triangles' degree-ordered
    oriented wedge join (each triangle counted once, wedge fan-out
    bounded by out-degree ≤ √(2|E|)); the wedge denominator is one
    map-side-combined degree agg; final assembly is 1-row × 1-row
    crosses.  The oracle replays the naive three-way join, which must
    agree on every count."""
    tri = q_graph_triangles(spark, sf_dir)
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    wdg = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("wedges"),
    )
    return (
        wdg.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            F.col("n_edges").cast("bigint").alias("n_edges"),
            "wedges",
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.round(
                3.0 * F.col("n_triangles") / F.col("wedges") + F.lit(1e-9), 6
            ).alias("global_clustering"),
        )
    )


_LP_DEG_CAP = 64    # wedge-center degree cap (fan-out bound)
_LP_TOPK = 10


@register(
    "q_graph_link_predict",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    und AS (
        SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e
    ),
    deg AS (
        SELECT v, count(*) AS d FROM und GROUP BY v
    ),
    centers AS (
        SELECT und.v, und.w, deg.d
        FROM und JOIN deg USING (v) WHERE deg.d <= {_LP_DEG_CAP}
    ),
    wedge AS (
        SELECT x.w AS a, y.w AS b,
               count(*) AS cn,
               round(sum(1e0 / ln(x.d)) + 1e-11, 6) AS aa
        FROM centers x JOIN centers y
          ON x.v = y.v AND x.w < y.w
        GROUP BY x.w, y.w
    ),
    cand AS (
        SELECT wedge.* FROM wedge
        LEFT JOIN e ON e.a = wedge.a AND e.b = wedge.b
        WHERE e.a IS NULL
    ),
    ranked AS (
        SELECT cand.*,
               row_number() OVER (ORDER BY aa DESC, a, b) AS rnk
        FROM cand
    )
    SELECT CAST(rnk AS INTEGER) AS rank, a, b,
           CAST(cn AS BIGINT) AS common_neighbors,
           round(aa + 1e-9, 4) AS adamic_adar
    FROM ranked WHERE rnk <= {_LP_TOPK}
    ORDER BY rank
    """,
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the top NON-edges by
    Adamic-Adar score Σ_v 1/ln(deg v) over shared neighbors v (common
    neighbors weighted down when the shared hub is promiscuous) — the
    classic 'products frequently co-purchased with the same third
    products but never together yet' recommendation candidate list,
    with the raw common-neighbor count alongside.

    Scale posture: wedges are generated only at degree-capped centers
    (deg ≤ 64 — the q_dedup_ngram df-cap treatment of hub fan-out:
    a 10⁵-degree hub contributes no wedges instead of 10¹⁰), existing
    edges are removed by an anti-join on the edge key, and the top-k
    is a TakeOrdered over 6-dp-rounded scores with (a, b) tiebreaks.
    All joins are equi-joins on node keys."""
    return link_predict_topk(spark, sf_dir)


def link_predict_topk(
    spark: SparkSession,
    sf_dir: str,
    deg_cap: int = _LP_DEG_CAP,
    topk: int | None = _LP_TOPK,
) -> DataFrame:
    """Parameterized Adamic-Adar link prediction (VERDICT r8 #6: the
    deployment knob).  `deg_cap` bounds wedge-center degree: wedge
    mass — the query's entire compute floor at fixture density,
    ~2.3 M wedges at the registered cap 64 — scales as Σ d·(d−1)/2
    over centers with d ≤ cap, so halving the cap roughly quarters
    the per-hub worst case.  Lowering the cap is an EXPLICIT
    exactness trade: wedges centered at dropped hubs vanish, so a
    pair's Adamic-Adar score can only shrink (each term 1/ln d > 0)
    and candidate pairs whose only witnesses were dropped hubs
    disappear — scores at cap c are a monotone lower bound of scores
    at any cap ≥ c (pinned in tests/test_round9.py).  At the default
    cap this IS q_graph_link_predict, pinned exactly equal."""
    # Shared memoized edge frame (round 8) — the basket-bounded
    # explode² kernel (round-6 rewrite: pair generation inside a
    # collected per-order array costs zero join shuffles; fan-out
    # bounded by basket size) now lives in copurchase_edges and is
    # computed once per session for all seven q_graph_* consumers.
    edges = copurchase_edges(spark, sf_dir)
    und = edges.select(F.col("a").alias("v"), F.col("b").alias("w")).union(
        edges.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    # edges is distinct, so |collect_set| == the degree count; wedges
    # need ≥2 neighbors, which also keeps ln(d) away from ln(1)=0.
    centers = (
        und.groupBy("v")
        .agg(F.collect_set("w").alias("ws"))
        .filter((F.size("ws") <= deg_cap) & (F.size("ws") >= 2))
        .withColumn("invlogd", 1.0 / F.log(F.size("ws").cast("double")))
    )
    wa = centers.select("ws", "invlogd", F.explode("ws").alias("a"))
    wedge = (
        wa.select("invlogd", "a", F.explode("ws").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.round(F.sum("invlogd") + F.lit(1e-11), 6).alias("aa"),
        )
    )
    cand = wedge.join(edges, ["a", "b"], "left_anti")
    # topk=None ranks every candidate (audit mode — the monotonicity
    # pins need the untruncated score map); a finite k stays on the
    # TakeOrderedAndProject path, whose bounded heap is sized k.
    top = cand.orderBy(F.desc("aa"), F.asc("a"), F.asc("b"))
    if topk is not None:
        top = top.limit(topk)
    from pyspark.sql import Window

    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("aa"), F.asc("a"), F.asc("b"))),
    )
    return ranked.select(
        F.col("rank").cast("int").alias("rank"),
        "a",
        "b",
        F.col("cn").cast("bigint").alias("common_neighbors"),
        F.round(F.col("aa") + F.lit(1e-9), 4).alias("adamic_adar"),
    ).orderBy("rank")


@register(
    "q_graph_centralization",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node
    ),
    dd AS (SELECT deg.*, max(d) OVER () AS dmax FROM deg),
    a AS (
        SELECT count(*) AS n, max(d) AS md, avg(d) AS avgd,
               sum(dmax - d) AS gap
        FROM dd
    )
    SELECT CAST(n AS BIGINT) AS n_nodes,
           CAST(md AS BIGINT) AS max_degree,
           round(avgd + 1e-9, 4) AS mean_degree,
           round(gap / ((n - 1e0) * (n - 2e0)) + 1e-9, 6)
               AS centralization,
           CAST(gap / ((n - 1e0) * (n - 2e0)) > 1e-1 AS BOOLEAN)
               AS hub_dominated
    FROM a
    """,
)
def q_graph_centralization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freeman degree centralization of the co-purchase graph:
    Σ(d_max − d_v) / ((n−1)(n−2)) — 0 for a regular graph (every
    product equally connected), 1 for a perfect star (one hub product
    in every basket) — the graph-level inequality number that tells
    you whether the q_graph_* pipeline faces a community structure or
    one hub (and therefore whether hub-skew mitigations like the
    link-predictor's degree cap are load-bearing).

    Shape: the shared distinct-edge build → ONE degree agg → a 1-row
    reduce (the max-degree marginal rides a window over the
    node-degree frame — node-bounded, never edge- or fact-bounded)."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    from pyspark.sql import Window

    dd = deg.withColumn("dmax", F.max("d").over(Window.partitionBy()))
    a = dd.agg(
        F.count("*").alias("n"),
        F.max("d").alias("max_degree"),
        F.avg("d").alias("mean_degree"),
        F.sum(F.col("dmax") - F.col("d")).alias("gap"),
    )
    cent = F.col("gap") / (
        (F.col("n") - F.lit(1.0)) * (F.col("n") - F.lit(2.0))
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_nodes"),
        F.col("max_degree").cast("bigint").alias("max_degree"),
        F.round(F.col("mean_degree") + F.lit(1e-9), 4).alias("mean_degree"),
        F.round(cent + F.lit(1e-9), 6).alias("centralization"),
        (cent > 0.1).alias("hub_dominated"),
    )


# --- Round-10 registrations (formerly operators/staged_r10.py, the
# [STAGED r10] batch #434-450): moved into their family modules at
# the registration flip (VERDICT r9 §Next-round #2). ---

# Repeat-co-purchase subgraph for the component census: an edge needs
# the pair co-purchased in >= _CC_MIN_ORDERS DISTINCT orders.  The raw
# co-occurrence graph is one giant component at every fixture scale
# (probed: %4 and %16, single blob) — the repeat filter keeps only
# STABLE product affinities and yields a genuinely multi-modal size
# census (33×2-node .. 1×14-node at sf0.01).
_CC_MIN_ORDERS = 2


@register(
    "q_graph_components",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
        GROUP BY 1, 2
        HAVING count(DISTINCT l1.l_orderkey) >= {_CC_MIN_ORDERS}
    ),
    und AS (
        SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e
    ),
    reach(v, lbl) AS (
        SELECT v, v AS lbl FROM (SELECT DISTINCT v FROM und)
        UNION
        SELECT und.v, reach.lbl
        FROM reach JOIN und ON und.w = reach.v
        WHERE reach.lbl < und.v
    ),
    lbls AS (SELECT v, min(lbl) AS lbl FROM reach GROUP BY v),
    comps AS (SELECT lbl, count(*) AS size FROM lbls GROUP BY lbl)
    SELECT CAST(size AS BIGINT) AS size,
           CAST(count(*) AS BIGINT) AS n_components
    FROM comps GROUP BY size ORDER BY size
    """,
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component census of the REPEAT-co-purchase graph
    (pairs co-purchased in ≥2 distinct orders): (component size, how
    many components of that size) — the structural question every
    dedup/community pipeline asks first ("one giant blob or many
    islands?"), on the edge set sparse enough to have an interesting
    answer (the raw co-occurrence graph is one blob at every scale).

    Spark side builds weighted edges with the basket-bounded explode²
    kernel (collect_set per order → in-array pair generation, zero
    join shuffles, fan-out bounded by basket size — the r6
    link_predict recipe) and feeds the ≥2-weight survivors to the
    engine's CC kernel (functions/dedup.component_labels: driver-local
    union-find under the edge threshold, else min-label propagation
    with an O(|E|) shuffle per superstep, run to the fixpoint in
    O(diameter) supersteps).  The oracle replays it as a
    recursive CTE whose tuple space is pruned to (node, smaller-
    reachable-label) — the min label still reaches every node because
    every path from the component minimum is monotonically
    label-decreasing at each hop."""
    from polybot_data_etl_spark.functions.dedup import component_labels

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    wa = baskets.select("ps", F.explode("ps").alias("a"))
    edges = (
        wa.select("a", F.explode("ps").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= _CC_MIN_ORDERS)
    )
    labels = component_labels(
        edges.select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))
    )
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("size"))
    return (
        sizes.groupBy(F.col("size").cast("bigint").alias("size"))
        .agg(F.count("*").cast("bigint").alias("n_components"))
        .orderBy("size")
    )


@register(
    "q_graph_modularity",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    m AS (SELECT count(*) AS m FROM e),
    intra AS (
        SELECT pa.p_brand AS c, count(*) AS lc
        FROM e JOIN part pa ON pa.p_partkey = e.a
               JOIN part pb ON pb.p_partkey = e.b
        WHERE pa.p_brand = pb.p_brand
        GROUP BY pa.p_brand
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node
    ),
    dc AS (
        SELECT p.p_brand AS c, sum(deg.d) AS dc
        FROM deg JOIN part p ON p.p_partkey = deg.node
        GROUP BY p.p_brand
    ),
    terms AS (
        SELECT dc.c,
               coalesce(intra.lc, 0) / (1e0 * m.m)
                   - (dc.dc / (2e0 * m.m)) * (dc.dc / (2e0 * m.m)) AS q
        FROM dc LEFT JOIN intra ON intra.c = dc.c CROSS JOIN m
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM m) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_communities,
           round(sum(q) + 1e-12, 6) + 0.0 AS modularity
    FROM terms
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the co-purchase graph under the brand
    partition: Q = Σ_c [ L_c/m − (d_c/2m)² ] — does the catalog's brand
    structure explain the co-purchase communities (Q ≫ 0), or do
    baskets ignore brands (Q ≈ 0)?  The closed-form community-quality
    score every clustering pipeline reports.

    Shape: the memoized edge frame joins the broadcast part dim twice
    (brand of each endpoint) for the intra-community count, the degree
    frame joins it once for d_c; everything after is a handful of
    community-sized aggregates.  No iteration — modularity of a GIVEN
    partition is pure closed-form, unlike community DETECTION."""
    from polybot_data_etl_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir)
    pt = F.broadcast(table(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    m = edges.agg(F.count("*").alias("m"))
    intra = (
        edges.join(pt.withColumnRenamed("p_brand", "ba"), F.col("a") == F.col("p_partkey"))
        .drop("p_partkey")
        .join(pt.withColumnRenamed("p_brand", "bb"), F.col("b") == F.col("p_partkey"))
        .filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("c"))
        .agg(F.count("*").alias("lc"))
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    dc = (
        deg.join(pt, F.col("node") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("c"))
        .agg(F.sum("d").alias("dc"))
    )
    terms = (
        dc.join(intra, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            (
                F.coalesce(F.col("lc"), F.lit(0)) / (1.0 * F.col("m"))
                - (F.col("dc") / (2.0 * F.col("m")))
                * (F.col("dc") / (2.0 * F.col("m")))
            ).alias("q")
        )
    )
    return (
        terms.crossJoin(F.broadcast(m))
        .groupBy("m")
        .agg(
            F.count("*").cast("bigint").alias("n_communities"),
            (F.round(F.sum("q") + F.lit(1e-12), 6) + F.lit(0.0)).alias(
                "modularity"
            ),
        )
        .select(
            F.col("m").cast("bigint").alias("n_edges"),
            "n_communities",
            "modularity",
        )
    )


@register(
    "q_graph_powerlaw",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_partkey % 4 = 0 AND l2.l_partkey % 4 = 0
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(max(d) AS BIGINT) AS max_degree,
           round(avg(1.0 * d) + 1e-9, 4) + 0.0 AS mean_degree,
           round(1.0 + count(*) / sum(ln(d / 0.5)) + 1e-9, 4) + 0.0
               AS alpha
    FROM deg
    """,
)
def q_graph_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the co-purchase degree distribution:
    the Clauset-Shalizi-Newman continuous-MLE α̂ = 1 + n/Σ ln(d/(d_min
    −½)) at d_min = 1 — the one-number scale-free-ness check that
    decides whether hub-sensitive algorithms (the #430 degree cap,
    salting, top-k caches) are load-bearing on this graph (α ≲ 2.5 ⇒
    heavy hubs) or cosmetic (α ≳ 3.5).  Complements
    q_graph_centralization's max-vs-rest gap with the full tail
    exponent.

    Shape: one degree aggregate over the memoized edge frame, one
    scalar row — integer degrees make Σ ln(d/0.5) engine-identical
    to the last rounding step."""
    from polybot_data_etl_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.max("d").cast("bigint").alias("max_degree"),
        (F.round(F.avg(1.0 * F.col("d")) + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "mean_degree"
        ),
        (
            F.round(
                1.0 + F.count("*") / F.sum(F.log(F.col("d") / 0.5))
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("alpha"),
    )
