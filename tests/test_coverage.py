"""SURVEY §2 ↔ registry parity: every `q_*` row in the contract table
must be registered (with an oracle when it claims the hash gate), and
every registered query must appear in the contract — the drift net
between the documented surface and the implemented one.  Also pins the
registry's enumeration order, which decides what the driver's 50-row
window records each round."""

from __future__ import annotations

import ast
import json
import math
import os
import shutil

from scripts.coverage_report import build_report

_SURVEY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md"
)


def test_survey_and_registry_agree():
    report = build_report(_SURVEY)
    assert report["problems"] == [], "\n".join(report["problems"])
    assert report["survey_queries"] == report["registered_queries"]
    # the only rows-only queries are the declared approximate ones
    # (HLL estimates are sketch-library-specific on both engines)
    assert report["rows_only"] == ["q_agg_approx", "q_agg_hll_merge"]


def test_every_registered_query_has_driver_hashable_schema(spark, sf_dir):
    """The driver's differential gate canonicalizes results in pandas —
    it sorts every column before hashing, and a cell holding a list /
    dict / Row is unhashable there (round-5 lesson: `q_embed_whiten`
    returned array<double> and errored the gate with `TypeError:
    unhashable type: 'list'` despite being semantically correct).  Pin
    the invariant: every registered query's RESOLVED schema (lazy —
    no execution) is all-scalar.  Queries that compute per-row arrays
    must emit them long-form (one row per element) or string-joined."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from polybot_data_etl_spark import registry

    bad: list[str] = []
    for name, fn in registry.queries().items():
        schema = fn(spark, sf_dir).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert bad == [], (
        "driver-unhashable (non-scalar) output columns:\n" + "\n".join(bad)
    )


_GREEN = {"hash_match": True, "spark_rows": 3, "err": None}
_RED = {"hash_match": False, "spark_rows": 3, "err": None}


def _record(records_dir, rnd: int, rows) -> None:
    (records_dir / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))


def test_stalest_evidence_enumerates_first(tmp_path):
    """Order = last green driver round, oldest first: a name whose
    latest row is red, or that has no row, leads; older green precedes
    newer green; ties keep registration order; the round is the NUMBER
    in the file name (r10 after r2, though it sorts first as text); a
    file that cannot be parsed is skipped whole."""
    from polybot_data_etl_spark import registry

    rows_only = {"hash_match": None, "spark_rows": 4, "err": "no_oracle"}
    empty_rows_only = {"hash_match": None, "spark_rows": 0, "err": "no_oracle"}
    _record(tmp_path, 2, {"q_old": _GREEN, "q_flaky": _GREEN, "q_fixed": _RED})
    _record(tmp_path, 10, {
        "q_new": _GREEN, "q_tie": _GREEN, "q_flaky": _RED, "q_fixed": _GREEN,
        "q_sketch": rows_only, "q_empty": empty_rows_only,
    })
    (tmp_path / "CORRECTNESS_r11.json").write_text('{"q_old": ')
    _record(tmp_path, 12, ["q_old"])
    _record(tmp_path, 13, {"q_old": _GREEN, "q_tie": "green"})
    _record(tmp_path, 14, {"q_new": rows_only, "q_old": {**rows_only, "spark_rows": "4"}})

    assert registry._last_green_round(tmp_path) == {
        "q_old": 2, "q_flaky": 0, "q_fixed": 10, "q_new": 10, "q_tie": 10,
        "q_sketch": 10, "q_empty": 0,
    }
    registration = [
        "q_new", "q_sketch", "q_tie", "q_old", "q_flaky", "q_unrecorded",
        "q_fixed", "q_empty",
    ]
    assert registry._stalest_first(registration, tmp_path) == [
        "q_flaky", "q_unrecorded", "q_empty", "q_old",
        "q_new", "q_sketch", "q_tie", "q_fixed",
    ]


def test_no_query_starves_out_of_the_driver_window(tmp_path):
    """The driver records the first 50 names of ``queries()`` per
    round.  Replay the committed records, then simulate rounds that
    re-record that head green: every registered query must reach the
    head within ceil(n/50) rounds.  A cost- or tier-keyed order fails
    this: it parks the expensive families behind the cheap ones for
    good, so they are never driver-checked again."""
    from polybot_data_etl_spark import registry

    window = 50
    committed = sorted(registry._RECORDS_DIR.glob("CORRECTNESS_r*.json"))
    for path in committed:
        shutil.copy(path, tmp_path)
    names = list(registry.queries())
    registration = list(registry._QUERIES)
    assert registry._stalest_first(registration, tmp_path) == names

    first = 1 + max(
        int(registry._RECORD_NAME.fullmatch(p.name).group(1)) for p in committed
    )
    reached: set[str] = set()
    for rnd in range(first, first + math.ceil(len(names) / window)):
        head = registry._stalest_first(registration, tmp_path)[:window]
        reached.update(head)
        _record(tmp_path, rnd, {n: _GREEN for n in head})
        registry._last_green_round.cache_clear()
    starved = sorted(set(names) - reached)
    assert not starved, f"{len(starved)} queries never reach the driver window: {starved}"


def test_registry_keeps_no_hand_written_query_name_list():
    """The enumeration order is derived from the committed driver
    records.  A set, tuple or list literal of ``q_*`` names in
    registry.py is the hand-kept tier apparatus growing back."""
    from polybot_data_etl_spark import registry

    with open(registry.__file__) as f:
        tree = ast.parse(f.read())
    literals = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, (ast.Set, ast.Tuple, ast.List))
        and any(
            isinstance(e, ast.Constant)
            and isinstance(e.value, str)
            and e.value.startswith("q_")
            for e in node.elts
        )
    ]
    assert not literals, f"q_* name literals in registry.py at lines {literals}"
