"""Query + oracle registry.

The moral successor of the reference's ``src/etl/sql/`` directory
(SURVEY.md §0.1 [REC src/etl/.DS_Store:4992]): every analytics query the
engine supports is declared once, as a named pair of

  * a PySpark builder  ``(SparkSession, sf_dir) -> DataFrame``  and
  * (where SQL-expressible) an equivalent ANSI/DuckDB oracle SQL string

so the driver's differential gate (row-count + schema + order-insensitive
value-hash vs DuckDB 1.0) can check every operator end-to-end.

Cross-dialect conventions (SURVEY.md §2.1) are enforced by convention in
each registered query: float outputs rounded (2 for money, 4 for
similarity/stats), embeddings cast to double before arithmetic, every
computed column aliased identically on both sides, top-k always
tie-broken by a unique key.

Order: ``queries()`` and ``oracles()`` list the query whose driver
evidence is stalest first.  The driver records only the first 50
queries of ``queries()`` each round (every committed
``CORRECTNESS_r<N>.json`` holds 50 rows), so ordering by the last round
with a green row rotates every query through that window: a query with
a red latest row, or none, leads; ties keep registration order.  The
order is read from the committed records, never kept by hand.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path
from typing import Any

QueryFn = Callable[..., Any]  # (SparkSession, str) -> DataFrame

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder and (optionally) its DuckDB oracle SQL.

    ``oracle=None`` marks a non-SQL-expressible operator (the driver then
    records a weaker rows-only check — SURVEY.md §2, "rows" rows).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The declared registry size — ONE place (SURVEY §7 M10 end-state:
# surface complete; no growth without a VERDICT-named semantic gap).
# Tests assert against these instead of re-pinning literals (ADVICE
# r10 #3), so a sanctioned future addition updates exactly this pair.
# Round 12: +2 for q_dedup_embed_scaled and q_sim_topk_lsh_scaled, the
# VERDICT-r11-#2-named corpus-scale LSH calibrations as registered
# queries with their own hash-checked oracles.
EXPECTED_QUERY_COUNT = 384
EXPECTED_ORACLE_COUNT = 382

# Where the driver commits its per-round CORRECTNESS_r<N>.json records.
_RECORDS_DIR = Path(__file__).resolve().parent.parent
_RECORD_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")


@functools.cache
def _last_green_round(records_dir: Path = _RECORDS_DIR) -> dict[str, int]:
    """Map each recorded query name to the last driver round whose row
    for it was green: a hash match, or a declared rows-only
    (``no_oracle``) row that returned rows.  A name whose LATEST row is
    red maps to 0, the same as a name with no row at all.

    The round is the number in the file name.  A file that cannot be
    read or parsed is skipped whole, so a damaged record never breaks
    query enumeration.  Read once per process and directory."""
    records = sorted(
        (int(m.group(1)), path)
        for path in records_dir.glob("CORRECTNESS_r*.json")
        if (m := _RECORD_NAME.fullmatch(path.name))
    )
    last: dict[str, int] = {}
    for rnd, path in records:
        try:
            rows = json.loads(path.read_text())
            status = {
                name: (
                    rnd
                    if row.get("hash_match")
                    or (row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0)
                    else 0
                )
                for name, row in rows.items()
            }
        except (OSError, ValueError, AttributeError, TypeError):
            continue
        last.update(status)
    return last


def _stalest_first(names: Iterable[str], records_dir: Path = _RECORDS_DIR) -> list[str]:
    """``names`` ordered by last green driver round, oldest first; the
    sort is stable, so ties keep the given (registration) order."""
    last = _last_green_round(records_dir)
    return sorted(names, key=lambda n: last.get(n, 0))


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: _QUERIES[n] for n in _stalest_first(_QUERIES)}


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return {n: _ORACLES[n] for n in _stalest_first(_ORACLES)}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their registration side effects.
    from polybot_data_etl_spark.operators import (  # noqa: F401
        aggregates,
        behavior,
        geo,
        graph,
        joins,
        predicates,
        relational_ext,
        scans,
        sketches,
        skew,
        sort_setops,
        timeseries,
        windows,
    )
    from polybot_data_etl_spark.functions import (  # noqa: F401
        dedup,
        dq,
        multimodal,
        ml,
        quality,
        scalar,
        stats,
        text,
        udf,
        vectors,
    )
    from polybot_data_etl_spark.plans import pipelines  # noqa: F401

    _LOADED = True
