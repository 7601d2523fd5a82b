"""Round-13 pins: the scale-derived bucket machinery (probe grid +
codegen'd ladder assignment) and q_basket_lift's tiled mega-basket
pair generation (VERDICT r12 §next #2/#3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bucket_index_sql_matches_hof(spark):
    """The balanced CASE ladder must equal size(filter(array, x <= col))
    for every value class: below all cuts, on a cut, between cuts,
    above all cuts, and NULL."""
    from polybot_data_etl_spark.plans.bounds import bucket_index_sql

    cuts = [10, 20, 30, 57, 1000]
    arr = ", ".join(f"{c}L" for c in cuts)
    df = spark.createDataFrame(
        [(v,) for v in (-5, 10, 11, 20, 57, 58, 999, 1000, 5000, None)],
        "v long",
    ).selectExpr(
        f"size(filter(array({arr}), x -> x <= v)) AS hof",
        bucket_index_sql(cuts, "v") + " AS ladder",
    )
    for row in df.collect():
        hof = max(row["hof"], 0)  # size() is -1/0 on null per legacy conf
        assert row["ladder"] == hof, row
    # double literals take the CAST(... AS DOUBLE) path
    dcuts = [0.5, 1.25, 7.5]
    darr = ", ".join(f"CAST({c!r} AS DOUBLE)" for c in dcuts)
    ddf = spark.createDataFrame(
        [(v,) for v in (0.4, 0.5, 3.0, 9.9)], "v double"
    ).selectExpr(
        f"size(filter(array({darr}), x -> x <= v)) AS hof",
        bucket_index_sql(dcuts, "v") + " AS ladder",
    )
    for row in ddf.collect():
        assert row["ladder"] == row["hof"], row


def test_bucket_index_sql_non_finite(spark):
    """Cut points sampled from a column salted with ±inf/NaN are
    non-finite; the ladder must still render valid SQL and equal
    size(filter(array(cuts), x -> x <= col)) on ±inf, NaN and NULL
    rows (Spark orders NaN above +inf, and NaN <= NaN holds)."""
    from polybot_data_etl_spark.plans.bounds import (
        bucket_index_sql,
        grid_cuts,
        probe_rows_and_grid,
    )

    inf, nan = float("inf"), float("nan")
    salt = [inf, -inf, nan, None]
    vals = [float(i) for i in range(40)] + salt * 20
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    sampled = grid_cuts(probe_rows_and_grid(df, {"b": "v"})["grids"]["b"], 32)
    for cuts in (sampled, [-inf, -1.0, 0.5, inf, nan]):
        got = df.select(
            F.expr(bucket_index_sql(cuts, "v")).alias("ladder"),
            F.size(
                F.filter(
                    F.array(*[F.lit(c) for c in cuts]),
                    lambda x: x <= F.col("v"),
                )
            ).alias("hof"),
        ).collect()
        for row in got:
            assert row["ladder"] == max(row["hof"], 0), (cuts, row)


def test_derived_bucket_count_floor_and_growth():
    """Fixture-scale inputs stay on the historical 32-bucket plan;
    bucket count grows as a power of two with rows and caps at GRID."""
    from polybot_data_etl_spark.plans.bounds import (
        GRID,
        derived_bucket_count,
    )

    assert derived_bucket_count(0) == 32
    assert derived_bucket_count(600_000) == 32          # sf0.1
    assert derived_bucket_count(6_000_000) == 32        # sf1
    assert derived_bucket_count(60_000_000) == 256      # sf10
    assert derived_bucket_count(10**12) == GRID         # capped
    n = derived_bucket_count(123_456_789)
    assert n & (n - 1) == 0 and GRID % n == 0


def test_grid_cuts_subsample_is_exact_quantile_set(spark, sf_dir):
    """Subsampling the fixed grid at stride G/n must reproduce the
    direct i/n percentile query of the same sketch — the guarantee
    that keeps fixture-scale bucketed plans byte-identical."""
    from polybot_data_etl_spark.catalog import table
    from polybot_data_etl_spark.plans.bounds import (
        grid_cuts,
        probe_rows_and_grid,
    )

    base = table(spark, sf_dir, "lineitem").select("l_orderkey")
    grid = probe_rows_and_grid(base, {"b": "l_orderkey"})["grids"]["b"]
    n = 32
    qs = [i / n for i in range(1, n)]
    direct = sorted(
        set(
            base.agg(
                F.percentile_approx("l_orderkey", qs, 10_000).alias("b")
            ).first()["b"]
        )
    )
    assert grid_cuts(grid, n) == direct


def test_basket_tiled_pairs_bit_identical(spark, monkeypatch):
    """basket_pair_candidates: the tiled mega-basket route (chunked
    (ci, cj) tiles + one spreading exchange) must produce the exact
    pair multiset of the exchange-free route, including baskets that
    straddle the size threshold and non-multiple-of-chunk sizes."""
    from polybot_data_etl_spark.operators import behavior

    rows = [
        (1, sorted({3, 1, 4, 1, 5, 9, 2, 6})),          # small
        (2, list(range(100, 141))),                      # 41 > chunk
        (3, list(range(7))),                             # == chunk - 1
        (4, [42]),                                       # singleton
        (5, list(range(200, 200 + 23))),                 # 23 > chunk
    ]
    baskets = spark.createDataFrame(rows, "o long, parts array<int>")
    chunk = 8
    monkeypatch.setattr(behavior, "_BASKET_CHUNK", chunk)
    naive = (
        baskets.selectExpr("explode(parts) AS part_a", "parts")
        .selectExpr("part_a", "explode(parts) AS part_b")
        .filter("part_a < part_b")
        .groupBy("part_a", "part_b")
        .count()
    )
    tiled = (
        behavior.basket_pair_candidates(baskets, max_basket=41)
        .groupBy("part_a", "part_b")
        .count()
    )
    small_only = (
        behavior.basket_pair_candidates(baskets, max_basket=chunk)
        .groupBy("part_a", "part_b")
        .count()
    )
    want = sorted(map(tuple, naive.collect()))
    assert sorted(map(tuple, tiled.collect())) == want
    # the exchange-free route on bounded baskets is the same generator
    # the registered fixture-scale plan uses
    got_small = sorted(
        map(
            tuple,
            behavior.basket_pair_candidates(
                baskets.filter("size(parts) <= 8"), max_basket=8
            )
            .groupBy("part_a", "part_b")
            .count()
            .collect(),
        )
    )
    want_small = sorted(
        map(
            tuple,
            naive.join(
                baskets.filter("size(parts) > 8").selectExpr(
                    "explode(parts) AS part_a"
                ),
                "part_a",
                "left_anti",
            ).collect(),
        )
    )
    assert got_small == want_small
    # max_basket <= chunk selects the exchange-free route, which expands
    # every basket whatever its size
    assert sorted(map(tuple, small_only.collect())) == want


def _unfolded_pagerank(edges, nodes):
    """The classic unfolded 3-iteration PageRank dataflow the r13
    sequence fold replaced (broadcast(pr) join → mass groupBy →
    left-join teleport, per iteration)."""
    from polybot_data_etl_spark.operators.graph import _PR_DAMPING, _PR_ITERS

    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    norm = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("tw")).alias("p"))
        .localCheckpoint(eager=False)
    )
    nn = nodes.agg(F.count("*").cast("double").alias("N"))
    nodes_n = nodes.crossJoin(F.broadcast(nn))
    pr = nodes_n.select("node", (F.lit(1.0) / F.col("N")).alias("pr"))
    for _ in range(_PR_ITERS):
        mass = (
            norm.join(F.broadcast(pr), norm.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("mass"))
        )
        pr = nodes_n.join(
            F.broadcast(mass), nodes_n.node == mass.dst, "left"
        ).select(
            "node",
            (
                F.lit(1 - _PR_DAMPING) / F.col("N")
                + F.lit(_PR_DAMPING)
                * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("pr"),
        )
    return nodes.join(pr, "node").select(
        "node", "n_name", F.round("pr", 6).alias("pagerank")
    )


def test_pagerank_fold_equals_unfolded(spark, sf_dir):
    """The r13 sequence-fold PageRank (one executor-side array fold,
    no per-iteration exchanges) must equal the classic unfolded
    3-iteration dataflow it replaced, value for value at 6 dp."""
    from polybot_data_etl_spark.catalog import table
    from polybot_data_etl_spark.operators.graph import q_graph_pagerank

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
    got = sorted(map(tuple, q_graph_pagerank(spark, sf_dir).collect()))
    want = sorted(map(tuple, _unfolded_pagerank(edges, nodes).collect()))
    assert got == want


def test_pagerank_fold_dangling_src(spark):
    """An edge whose src is not a node (array_position → 0) must carry
    no mass instead of raising in element_at, matching the unfolded
    form's inner join (and the oracle's)."""
    from polybot_data_etl_spark.operators.graph import pagerank_fold

    nodes = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "C")], "node int, n_name string"
    )
    edges = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 3.0), (9, 1, 5.0), (9, 2, 1.0)],
        "src int, dst int, w double",
    )
    got = sorted(map(tuple, pagerank_fold(edges, nodes).collect()))
    want = sorted(map(tuple, _unfolded_pagerank(edges, nodes).collect()))
    assert got == want
    assert len(got) == 3
