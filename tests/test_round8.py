"""Round-8 additions: the bucketed two-pass plans (#423-#425) pinned
to their global-window witnesses at forced bucket counts, and the
signed-zero emit convention (SURVEY §2.1.13)."""

from __future__ import annotations

import pytest


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _equal_at_floors(monkeypatch, spark, sf_dir, build, witness, floors):
    """The REGISTERED builder at each forced bucket-count floor (every
    fixture is far below the rows that grow the count past the floor,
    so the floor IS the bucket count) against its global-window
    witness; the memoized sample is shared across floors."""
    from polybot_data_etl_spark.plans import bounds

    want = _rows(witness(spark, sf_dir))
    for k in floors:
        monkeypatch.setattr(bounds, "MIN_BUCKETS", k)
        assert _rows(build(spark, sf_dir)) == want, f"{k} buckets"


def test_rle_bucketed_matches_global_window(spark, sf_dir, monkeypatch):
    """#423: the registered q_dq_rle runs the two-pass bucket-offset
    plan since the round-11 flip (per-orderkey-range lag windows + a
    bounded boundary stitch, no global data sort); the demoted
    rle_profile_global form is the independent witness — the two must
    produce the IDENTICAL 3-row report.  The boundary arithmetic
    (local run starts minus cross-bucket continuations) is exact, not
    approximate, so this is a strict equality, not a band — and it
    stays exact when the bucket count (hence every boundary position)
    changes."""
    from polybot_data_etl_spark.functions.dq import (
        q_dq_rle,
        rle_profile_global,
    )

    _equal_at_floors(
        monkeypatch, spark, sf_dir, q_dq_rle, rle_profile_global,
        (3, 5, 7, 32),
    )


def test_rle_bucketed_no_global_data_sort(spark, sf_dir):
    """#423 plan shape: the data-sized lag window partitions by the
    orderkey-range bucket (its exchange hashes on bkt); the only
    unpartitioned windows/aggregates run over the ≤33-row bucket
    summary — never the fact table."""
    from polybot_data_etl_spark.functions.dq import q_dq_rle

    plan = q_dq_rle(spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "hashpartitioning(bkt" in plan
    # the full-key lag window must be bkt-partitioned, not global
    assert "windowspecdefinition(bkt" in plan


def test_rounded_float_outputs_normalize_signed_zero(spark, sf_dir):
    """SURVEY §2.1.13 regression pin on the five queries the strict
    hasher turned red (q_stats_fdr r6/r7 + the four the unmasked
    mirror found in r8): no emitted float cell may be IEEE −0.0.
    DuckDB preserves −0.0 through round(); Spark's unsafe-row path
    folds it — so any −0.0 that reaches the driver hasher from either
    engine is a cross-engine hash divergence waiting to happen.
    scripts/audit_negzero.py is the fleet-wide oracle-side version;
    this pins the Spark side of the five known-susceptible queries."""
    import math

    from polybot_data_etl_spark.functions.scalar import q_fn_array
    from polybot_data_etl_spark.functions.stats import q_stats_fdr
    from polybot_data_etl_spark.functions.udf import q_udaf_grouped
    from polybot_data_etl_spark.functions.vectors import q_embed_centroid
    from polybot_data_etl_spark.operators.aggregates import q_agg_moments

    for fn in (q_stats_fdr, q_agg_moments, q_embed_centroid, q_fn_array,
               q_udaf_grouped):
        df = fn(spark, sf_dir)
        float_cols = [
            f.name for f in df.schema.fields if f.dataType.typeName() in
            ("double", "float")
        ]
        for r in df.collect():
            for c in float_cols:
                v = r[c]
                if v is not None and v == 0.0 and not math.isnan(v):
                    assert math.copysign(1.0, v) > 0, (
                        f"{fn.__name__}.{c} emitted -0.0"
                    )


@pytest.mark.parametrize("floor", [1, 2])
def test_rle_bucketed_degenerate_bucket_counts(
    spark, sf_dir, monkeypatch, floor
):
    """1 bucket = the global form (no boundaries); 2 buckets = a single
    boundary — both must still equal the demoted global-window
    witness."""
    from polybot_data_etl_spark.functions.dq import (
        q_dq_rle,
        rle_profile_global,
    )

    _equal_at_floors(
        monkeypatch, spark, sf_dir, q_dq_rle, rle_profile_global, (floor,)
    )


def test_id_gaps_bucketed_matches_global_window(spark, sf_dir, monkeypatch):
    """#424: the registered q_dq_id_gaps runs the LEAD variant of the
    bucket-offset recipe since the round-11 flip (per-id-range lead
    windows; each bucket's last row stitches to the next non-empty
    bucket's min); the demoted id_gaps_global form is the witness —
    IDENTICAL five-number continuity report at wildly different
    boundary placements."""
    from polybot_data_etl_spark.functions.dq import (
        id_gaps_global,
        q_dq_id_gaps,
    )

    _equal_at_floors(
        monkeypatch, spark, sf_dir, q_dq_id_gaps, id_gaps_global,
        (1, 2, 3, 5, 7, 32),
    )


def test_rfm_scaled_matches_global_ntiles(spark, sf_dir, monkeypatch):
    """#425: the registered q_agg_rfm runs the two-pass bucketed-rank
    + closed-form ntile(5) plan since the round-11 flip (the
    entity-keyed-Aggregate case the global-window plan sweep cannot
    flag statically); the demoted rfm_global three-global-ntile form
    is the witness.  Exactly equal, not cutpoint-approximate: ties
    share a value bucket and the custkey tiebreak is total, so every
    global rank — and therefore every ntile boundary — is
    identical."""
    from polybot_data_etl_spark.operators.behavior import (
        q_agg_rfm,
        rfm_global,
    )

    _equal_at_floors(
        monkeypatch, spark, sf_dir, q_agg_rfm, rfm_global,
        (1, 2, 3, 5, 7, 32),
    )
    # plan shape: every data-sized rank window partitions by its value
    # bucket — no unpartitioned window over the customer frame
    plan = q_agg_rfm(spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "windowspecdefinition(bkt_r" in plan
    assert "windowspecdefinition(bkt_f" in plan
    assert "windowspecdefinition(bkt_m" in plan


def test_rfm_scaled_degenerate_cardinalities(spark, sf_dir, tmp_path):
    """#425 edge: with fewer customers than tiles (n < 5) Spark's
    ntile(5) hands each row its own tile — the closed-form rule's
    base == 0 branch.  Exercise 1- and 3-customer fixtures."""
    from polybot_data_etl_spark.operators.behavior import (
        q_agg_rfm,
        rfm_global,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for n_cust, sub in (("one", 1), ("three", 3)):
        keys = [r[0] for r in o.select("o_custkey").distinct().limit(sub).collect()]
        tiny = str(tmp_path / f"tiny_{n_cust}")
        o.filter(o["o_custkey"].isin(keys)).write.parquet(
            f"{tiny}/orders.parquet"
        )
        a = sorted(tuple(r) for r in rfm_global(spark, tiny).collect())
        b = sorted(
            tuple(r) for r in q_agg_rfm(spark, tiny).collect()
        )
        assert a == b, n_cust
