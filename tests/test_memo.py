"""The session memo (plans/memo.py): key isolation, dead-session
eviction, clear() against in-flight builds, the per-entry locking
contract under concurrent plan producers, and a guard that no other
module grows its own session cache again."""

from __future__ import annotations

import ast
import pathlib
import sys
import threading
import time

import pytest

from polybot_data_etl_spark.plans import memo as M

PACKAGE = pathlib.Path(M.__file__).resolve().parents[1]


@pytest.fixture()
def clean_memo():
    M.clear()
    yield
    M.clear()


def test_memo_keys_isolate(spark, tmp_path, clean_memo):
    """Different (sf_dir, grid) keys must not share cut points:
    a fixture swap or a grid change re-samples; the same key
    re-uses.  Also pins the dead-session eviction sweep."""
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return [1.0, 2.0]

    v1 = M.memo(spark, ("k", str(tmp_path), 32), compute)
    v2 = M.memo(spark, ("k", str(tmp_path), 32), compute)
    assert v1 == v2 == [1.0, 2.0] and calls["n"] == 1
    M.memo(spark, ("k", str(tmp_path), 16), compute)
    assert calls["n"] == 2
    # a foreign (dead) session's entry is swept on the next insert
    with M._LOCK:
        M._ENTRIES[("dead-app", "k", "x", 8)] = M._Entry()
    M.memo(spark, ("k2", str(tmp_path), 32), compute)
    with M._LOCK:
        assert ("dead-app", "k", "x", 8) not in M._ENTRIES


def test_clear_invalidates_inflight_builds(
    spark, sf_dir, monkeypatch, clean_memo
):
    """table() reads parquet inside its memo build, which holds only
    that entry's lock; a clear() fired mid-build must not let the
    build re-insert its stale frame afterwards — undoing the
    fixture-swap invalidation.  Reproduce deterministically by
    triggering the clear from the isdir probe that runs inside the
    build, before the parquet read."""
    import os as _os

    from polybot_data_etl_spark import catalog

    real_isdir = _os.path.isdir
    fired = []

    def clearing_isdir(p):
        if not fired:  # clear exactly once, mid-build
            fired.append(True)
            M.clear()
        return real_isdir(p)

    monkeypatch.setattr("os.path.isdir", clearing_isdir)
    df = catalog.table(spark, sf_dir, "region")
    monkeypatch.undo()
    assert df.count() > 0  # the caller still gets a usable frame
    # ...but the stale frame must NOT have been inserted post-clear
    key = (spark.sparkContext.applicationId, "table", sf_dir, "region")
    assert key not in M._ENTRIES
    # a fresh build after the clear caches normally again
    catalog.table(spark, sf_dir, "region")
    assert key in M._ENTRIES


def test_cold_key_builds_once_under_concurrency(spark, clean_memo):
    """More threads than cores racing one cold key run build() once
    and all receive the same object (the eager component_labels
    union-find must never double-run)."""
    calls = []
    n_threads = 16
    start = threading.Barrier(n_threads)
    results = [None] * n_threads

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    def worker(i):
        start.wait(timeout=10)
        results[i] = M.memo(spark, ("race",), build)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,))
            for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert all(r is results[0] for r in results) and results[0] is not None


def test_hit_not_blocked_by_cold_build(spark, clean_memo):
    """A hit on key B returns while key A's build is blocked."""
    M.memo(spark, ("B",), lambda: "b")
    building, release = threading.Event(), threading.Event()

    def slow():
        building.set()
        release.wait(timeout=30)
        return "a"

    t_a = threading.Thread(target=M.memo, args=(spark, ("A",), slow))
    t_a.start()
    try:
        assert building.wait(timeout=10)
        got = []
        t_b = threading.Thread(
            target=lambda: got.append(M.memo(spark, ("B",), lambda: "x"))
        )
        t_b.start()
        t_b.join(timeout=10)
        assert not t_b.is_alive() and got == ["b"]
    finally:
        release.set()
        t_a.join(timeout=10)
    assert not t_a.is_alive()
    assert M.memo(spark, ("A",), lambda: "x") == "a"


def test_nested_builds_of_other_keys(spark, clean_memo):
    """A build may ask for other keys (cc labels → ngram pairs → sized
    pairs → table): per-entry locks do not deadlock on an acyclic key
    graph, and the inner value is memoized in its own right."""
    inner = M.memo(spark, ("outer",), lambda: M.memo(spark, ("inner",), list))
    assert M.memo(spark, ("inner",), lambda: None) is inner


def test_raising_build_leaves_no_entry(spark, clean_memo):
    """A build that raises leaves nothing behind; the next call retries
    and caches."""

    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError):
        M.memo(spark, ("fails",), boom)
    key = (spark.sparkContext.applicationId, "fails")
    assert key not in M._ENTRIES
    assert M.memo(spark, ("fails",), lambda: 7) == 7
    assert M.memo(spark, ("fails",), boom) == 7


def _is_lock_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("Lock", "RLock")
    )


def test_memo_is_the_only_session_cache():
    """No module but plans/memo.py keys on applicationId or holds a
    module-level lock: a new session cache goes through memo()."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == pathlib.Path(M.__file__).resolve():
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PACKAGE)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                offenders.append(f"{rel}:{node.lineno} reads applicationId")
        for stmt in tree.body:
            if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and any(
                _is_lock_call(n) for n in ast.walk(stmt)
            ):
                offenders.append(f"{rel}:{stmt.lineno} module-level lock")
    assert not offenders, offenders
