"""Round-11 pins: the registered-plan flips (VERDICT r10 §Next-round
#1/#3 — q_dq_rle / q_dq_id_gaps / q_win_dist / q_agg_rfm now run their
bucketed two-pass recipes; the naive global-window forms are demoted to
test-only witnesses) and the two ADVICE r10 hardenings (kendall
try_divide, hubness oracle NULL-embedding filter).

Value equality of each flipped pair is pinned in tests/test_round8.py
(updated to witness direction: demoted global form vs registered plan);
this module pins what those can't see — that the REGISTERED plan is the
bucketed one (plan shape), and the degenerate-input behavior the audit
battery's fixtures don't reach (all-tied series, NULL-salted
embeddings differentially against DuckDB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def test_flipped_plans_are_bucketed(spark, sf_dir):
    """The flip happened at the REGISTRY level: the plan the driver
    runs for each flipped name partitions its data-sized window by the
    range bucket — no unpartitioned window over data remains (the
    fleet sweep in tests/test_plans.py now runs with an EMPTY
    allowlist; this pins the four names individually so a revert is
    named, not just counted)."""
    from polybot_data_etl_spark import registry

    qs = registry.queries()
    for name, marker in (
        ("q_dq_rle", "windowspecdefinition(bkt"),
        ("q_dq_id_gaps", "windowspecdefinition(bkt"),
        ("q_win_dist", "windowspecdefinition(bkt"),
        ("q_agg_rfm", "windowspecdefinition(bkt_r"),
    ):
        plan = _plan(spark, qs[name](spark, sf_dir))
        assert marker in plan, f"{name} lost its bucketed window"
        assert "hashpartitioning(bkt" in plan, (
            f"{name}'s data window is not bucket-partitioned"
        )


def test_kendall_constant_series_is_null_not_crash(spark, tmp_path):
    """ADVICE r10 #2: a constant x or y series zeroes tau-b's
    denominator; under Spark 4 ANSI mode a plain divide raises
    DIVIDE_BY_ZERO.  try_divide degrades the undefined statistic to
    NULL — same hardening as the sibling welch/friedman/cramers_v."""
    from polybot_data_etl_spark.functions.stats import q_stats_kendall

    _constant_orders(dates_as_text=False).to_parquet(
        tmp_path / "orders.parquet", index=False
    )
    [row] = q_stats_kendall(spark, str(tmp_path)).collect()
    assert row["n_days"] == 3
    assert row["concordant"] == 0 and row["discordant"] == 0
    assert row["tau_b"] is None


def _constant_orders(dates_as_text: bool) -> pd.DataFrame:
    """Six orders with a constant price over three days, o_orderdate
    stored as the pinned timestamp or as ISO text."""
    days = ["2024-01-01"] * 2 + ["2024-01-02"] * 2 + ["2024-01-03"] * 2
    return pd.DataFrame(
        {
            "o_orderkey": range(6),
            "o_custkey": [1, 2, 1, 2, 1, 2],
            "o_orderdate": (
                days if dates_as_text
                else pd.to_datetime(days).astype("datetime64[us]")
            ),
            "o_totalprice": [10.0] * 6,
            "o_orderpriority": ["1-URGENT"] * 6,
            "o_orderstatus": ["O"] * 6,
        }
    )


def test_text_dated_orders_fixture_is_named_drift(spark, tmp_path):
    """The kendall fixture as it was first written (o_orderdate as
    text) is off the pinned schema: the read names the column instead
    of handing the query a string date."""
    import pytest

    from polybot_data_etl_spark.functions.stats import q_stats_kendall

    _constant_orders(dates_as_text=True).to_parquet(
        tmp_path / "orders.parquet", index=False
    )
    with pytest.raises(RuntimeError, match=r"orders\.o_orderdate: physical"):
        q_stats_kendall(spark, str(tmp_path))


def _simhash_candidate_mass(fp, combinatorial: bool) -> int:
    """Σ C(|posting|, 2) across band buckets — the pair-stage work the
    banding scheme commits to BEFORE any Hamming verify.  ``fp`` is a
    (doc_id, b0..b3) fingerprint frame."""
    from pyspark.sql import functions as F

    from polybot_data_etl_spark.functions.dedup import (
        _SIMHASH_BANDS,
        _simhash_combinatorial_keys,
        _simhash_pack,
    )

    if not combinatorial:
        keys = [F.col(f"b{b}") for b in range(_SIMHASH_BANDS)]
    else:
        # the REGISTERED plan's key construction over the packed fp0,
        # not a test re-derivation
        fp = fp.select("doc_id", _simhash_pack())
        keys = _simhash_combinatorial_keys(F.col("fp0"))
    banded = fp.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band", "value")
    )
    row = (
        banded.groupBy("band", "value")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("mass"))
        .first()
    )
    return int(row["mass"] or 0)


def test_simhash_combinatorial_kills_chance_collisions(spark):
    """The reason the twin exists (SCALE.md §'×100 point': registered
    band-candidates grew ×67.6 for ×10 docs): the component that
    crowds is CHANCE collisions in the fixed 2¹⁶ band space —
    n²·4/2¹⁷ pairs of unrelated docs.  Genuinely correlated near-dup
    clusters collide under BOTH schemes (that is the exactness
    guarantee), so the pin isolates the chance term with UNIFORM
    random fingerprints: at 20 k docs the registered banding must
    already commit thousands of junk candidate pairs while the
    ~2³²-space combinatorial banding commits ~none."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    n = 20_000
    fp = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                **{
                    f"b{b}": rng.integers(
                        0, 1 << 16, size=n, dtype=np.int64
                    )
                    for b in range(4)
                },
            }
        )
    )
    reg = _simhash_candidate_mass(fp, combinatorial=False)
    comb = _simhash_candidate_mass(fp, combinatorial=True)
    # E[reg] = 4·C(20k,2)/2¹⁶ ≈ 12.2k; E[comb] = 20·C(20k,2)/~2³¹⁻³³ ≈ 0-4
    assert reg > 5_000, reg
    assert comb < reg / 100, (reg, comb)


def test_embed_pairs_scaled_bits_subset_with_recall_floor(spark, sf_dir):
    """The embedding-LSH analog of the simhash space fix: the ×100
    point measured pair work EXACTLY ×100 for ×10 rows at the 4-bit
    fixture calibration (64 buckets total), and the documented dial is
    bits ~ log₂ n (`_build_embed_pairs(bands, bits)`).  A wider
    configuration runs the SAME verify over fewer candidates, so its
    verified output must be a strict SUBSET of the registered
    4-bit output with the recall the LSH math predicts — pinned here
    at 8 bits on the fixture (everything deterministic: fixed
    hyperplanes, fixed data)."""
    from pyspark.sql import functions as F

    from polybot_data_etl_spark.functions.dedup import (
        _build_embed_pairs,
        clear_pair_cache,
        hyperplane_buckets,
    )
    from polybot_data_etl_spark.catalog import table

    clear_pair_cache()
    reg = {
        (r.a_id, r.b_id, r.sim)
        for r in _build_embed_pairs(spark, sf_dir).collect()
    }
    scaled = {
        (r.a_id, r.b_id, r.sim)
        for r in _build_embed_pairs(spark, sf_dir, bands=4, bits=8).collect()
    }
    assert reg, "fixture must contain verified embed near-dup pairs"
    assert scaled <= reg, scaled - reg
    # deterministic recall on this fixture; LSH predicts
    # 1-(1-p^8)^4 ≈ 0.5-0.9 for the fixture's sim range — pin a floor
    # so a silent candidate-generation regression is caught
    assert len(scaled) >= 0.4 * len(reg), (len(scaled), len(reg))
    # and the candidate space actually got finer: 8-bit bands split
    # the corpus into ~2^(8-4) = 16x more buckets → bucket pair mass
    # (the stage the x100 point showed quadratic) drops hard
    def mass(bits):
        bk = hyperplane_buckets(
            table(spark, sf_dir, "embeddings"), 4, bits
        )
        row = (
            bk.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("m"))
            .first()
        )
        return int(row["m"] or 0)

    m4, m8 = mass(4), mass(8)
    assert m8 * 4 < m4, (m4, m8)


def test_hubness_null_salted_matches_oracle(spark, tmp_path):
    """ADVICE r10 #1: with NULL embeddings salted in, the oracle's
    QUALIFY rn<=5 used to emit NULL-sim 'neighbors' for NULL probes
    (NULL sims rank last but are not dropped) and NULL vectors could
    enter a top-5 when a probe has <5 non-NULL candidates — while the
    Spark kernel excludes NULL embeddings from both sides.  The oracle
    now filters NULL embeddings on both knn sides, so the two engines
    agree BY CONSTRUCTION on salted inputs.  Differential pin on a
    7-vector table with 3 NULLs (4 non-NULL probes < 5+1, the exact
    under-full regime the advice names)."""
    import duckdb

    from polybot_data_etl_spark import registry
    from polybot_data_etl_spark.functions.vectors import q_embed_hubness

    rng = np.random.default_rng(7)
    emb = [rng.standard_normal(8).astype(np.float32) for _ in range(4)]
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(1, 8, dtype=np.int64),
            "embedding": emb + [None, None, None],
            "label": np.zeros(7, dtype=np.int32),
        }
    )
    path = tmp_path / "embeddings.parquet"
    pdf.to_parquet(path, index=False)

    got = {
        int(r["indeg"]): int(r["n_vecs"])
        for r in q_embed_hubness(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    want = {
        int(i): int(n)
        for i, n in con.execute(
            registry.oracles()["q_embed_hubness"]
        ).fetchall()
    }
    assert got == want
    # the 3 NULL-embedding vectors stay in the in-degree universe at 0
    assert got.get(0, 0) >= 3
    # every non-NULL probe emitted exactly its 3 real neighbors
    assert sum(i * n for i, n in got.items()) == 4 * 3
