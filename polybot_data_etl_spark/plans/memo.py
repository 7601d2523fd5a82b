"""Session memo: the one cache for intermediate results that builders
share within a SparkSession — scan frames, pair / signature / edge
frames, CC labels and sampled bucket cut points.

``memo(spark, key, build)`` runs ``build()`` once per
``(applicationId, *key)``.  Values are plain literals or checkpointed
frames, usually ``localCheckpoint(eager=False)``.  That call is not
fully lazy: on PySpark 4.1 (AQE on) it runs the plan's upstream shuffle
stages at once — ``spark.range(10).groupBy().count()
.localCheckpoint(eager=False)`` starts one job — and only the last,
narrow stage waits for the first action; later consumers read the
executor-local blocks.

Locking (bench.py's plan producers build concurrently):

- ``_LOCK`` guards only the ``_ENTRIES`` dict, never a build.
- Each entry's own lock is held while it builds, so a cold key builds
  once however many threads ask (the eager ``component_labels``
  union-find must never double-run), and a cold build never blocks a
  hit on another key.
- A build may call ``memo`` for OTHER keys (cc labels → ngram pairs →
  sized pairs → table; minhash pairs → signatures → table).  This
  cannot deadlock while the key graph stays acyclic: no build may,
  directly or through its callees, ask for its own key or for a key
  whose build asks for it.
- ``clear()`` drops the dict; a build in flight finishes into its
  orphaned entry, so it cannot re-insert a frame pinned to the
  pre-clear file listing.
- A build that raises leaves no entry; the next call retries.
- Inserting a key evicts other (dead) sessions' entries, which would
  pin Py4J refs into dead JVMs or serve cuts of an earlier fixture.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql import SparkSession

_MISSING = object()


class _Entry:
    __slots__ = ("lock", "value")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.value: Any = _MISSING


_ENTRIES: dict[tuple, _Entry] = {}
_LOCK = threading.Lock()


def memo(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """Return ``build()``'s value memoized per (session, ``key``).

    ``key`` is a tuple whose first element names the memoized result;
    ``build`` takes no arguments and may itself call ``memo`` for other
    keys (see the module docstring for the acyclicity condition)."""
    full_key = (spark.sparkContext.applicationId, *key)
    while True:
        with _LOCK:
            entry = _ENTRIES.get(full_key)
            if entry is None:
                for k in [k for k in _ENTRIES if k[0] != full_key[0]]:
                    del _ENTRIES[k]
                entry = _ENTRIES[full_key] = _Entry()
        if entry.value is not _MISSING:
            return entry.value
        with entry.lock:
            if entry.value is not _MISSING:
                return entry.value
            with _LOCK:
                live = _ENTRIES.get(full_key) is entry
            if not live:
                # the build we waited on raised, or clear() ran: start
                # over on the entry that is in the dict now
                continue
            try:
                entry.value = build()
            except BaseException:
                with _LOCK:
                    if _ENTRIES.get(full_key) is entry:
                        del _ENTRIES[full_key]
                raise
            return entry.value


def clear() -> None:
    """Drop every memoized value (tests / fixture swaps)."""
    with _LOCK:
        _ENTRIES.clear()
