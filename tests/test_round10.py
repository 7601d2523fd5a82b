"""Round-10 pins: the [STAGED r10] registration flip (SURVEY §2
#434-450) and the hubness hardening that had to land BEFORE it
(VERDICT r9 §Next-round #2/#4, ADVICE r9 #2/#3).

The differential correctness of the 17 flipped queries is covered by
the registered-fleet gate (tests/test_oracle.py iterates the registry,
so the batch inherits the sf0.001 sweep plus every fleet audit); this
module pins what the generic gate cannot see — that the flip actually
happened, that the broadcast contract is executable, and that the
degenerate-input kernel behavior matches the oracle's join semantics.
"""

from __future__ import annotations

import numpy as np
import pytest

R10_BATCH = frozenset({
    "q_graph_components", "q_graph_modularity", "q_graph_powerlaw",
    "q_ts_xcorr", "q_ts_interrupted", "q_ts_seasonal_mk",
    "q_embed_hubness", "q_text_ngram_coverage", "q_text_burstiness",
    "q_stats_kendall", "q_stats_hodges_lehmann", "q_stats_friedman",
    "q_stats_cramers_v", "q_stats_welch", "q_sample_bernoulli_hash",
    "q_win_rolling_slope", "q_agg_lorenz",
})


def test_r10_batch_is_registered_with_oracles():
    """The flip: all 17 staged names registered, each hash-gated."""
    from polybot_data_etl_spark import registry

    qs, os_ = registry.queries(), registry.oracles()
    assert R10_BATCH <= set(qs), sorted(R10_BATCH - set(qs))
    assert R10_BATCH <= set(os_), sorted(R10_BATCH - set(os_))
    # Counts come from the registry's single declared pair (ADVICE r10
    # #3: a sanctioned future addition updates the constants, not this
    # unrelated flip-pin test).
    assert len(qs) == registry.EXPECTED_QUERY_COUNT
    assert len(os_) == registry.EXPECTED_ORACLE_COUNT
    # The r10 driver recorded the whole batch green (CORRECTNESS_r10),
    # so the evidence map read from the committed records must give
    # every name a green round — the fold-in is automatic.
    last = registry._last_green_round()
    assert all(last.get(n, 0) > 0 for n in R10_BATCH), sorted(
        n for n in R10_BATCH if not last.get(n, 0)
    )


def test_hubness_broadcast_guard_fails_loud(spark, sf_dir, monkeypatch):
    """VERDICT r9 #4: the replicated-index shard contract must be
    executable — past the broadcast budget the query refuses with the
    IVF path named, instead of OOM-ing the driver at scale."""
    from polybot_data_etl_spark.functions import vectors

    monkeypatch.setattr(vectors, "_HUBNESS_MAX_INDEX_ROWS", 1)
    with pytest.raises(RuntimeError, match="q_sim_topk_ivf"):
        vectors.q_embed_hubness(spark, sf_dir)


def test_hubness_no_self_neighbors_on_tiny_index(spark, tmp_path):
    """ADVICE r9 #3: with <= k index rows the old [:5] slice emitted
    the probe as its own -inf 'neighbor'; the oracle's
    a.vec_id <> b.vec_id join never does.  On a 3-vector table each
    probe has exactly 2 real neighbors, so the in-degree histogram
    must account for 3 vectors and 6 directed edges total."""
    import pandas as pd

    from polybot_data_etl_spark.functions import vectors

    pdf = pd.DataFrame(
        {
            "vec_id": np.array([1, 2, 3], dtype=np.int64),
            "embedding": [
                np.array([1.0, 0.0], dtype=np.float32),
                np.array([0.9, 0.1], dtype=np.float32),
                np.array([0.0, 1.0], dtype=np.float32),
            ],
            "label": np.array([0, 0, 1], dtype=np.int32),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet", index=False)
    out = vectors.q_embed_hubness(spark, str(tmp_path)).toPandas()
    assert int(out["n_vecs"].sum()) == 3
    assert int((out["indeg"] * out["n_vecs"]).sum()) == 6


def test_hubness_kernel_rounds_half_away_from_zero(duck):
    """ADVICE r9 #2: the kernel's 5-NN ranking key must round halves
    AWAY from zero (DuckDB round(), the oracle's ranking key), not
    half-to-even (np.round) — a dot product near a .xxxx5 boundary
    would otherwise flip neighbor order cross-engine.  Pin the exact
    kernel formula against DuckDB itself on boundary-straddling
    doubles, and show np.round genuinely diverges on them."""
    raw = [0.00005, -0.00005, 0.00015, -0.00015, 0.12345, 0.12335]
    duck_rounded = [
        duck.execute(f"select round({r!r}::DOUBLE, 4)").fetchone()[0]
        for r in raw
    ]
    arr = np.array(raw)
    kernel = np.copysign(np.floor(np.abs(arr) * 1e4 + 0.5) / 1e4, arr)
    assert kernel.tolist() == duck_rounded
    # and np.round disagrees with the oracle on these same inputs —
    # i.e. the ADVICE-r9 divergence was real, not hypothetical
    assert np.round(arr, 4).tolist() != duck_rounded
