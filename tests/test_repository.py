"""Repository layer (sources/repository.py): keyed upsert semantics,
idempotence, manifest-swap commit isolation, and dynamic
partition-overwrite isolation."""

from __future__ import annotations

import contextlib
import os

import pytest

from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.sources import repository as repo


@pytest.fixture()
def seeded_table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "cust_repo")
    repo.create_table(table(spark, sf_dir, "customer"), path)
    return path


def test_upsert_updates_inserts_preserves(spark, seeded_table):
    before = repo.read_table(spark, seeded_table)
    n_before = before.count()
    # update two existing keys, insert one new key
    updates = spark.createDataFrame(
        [
            (1, "UPDATED-1", 0, 999.99, "BUILDING"),
            (2, "UPDATED-2", 1, 888.88, "MACHINERY"),
            (10_000_001, "NEW", 2, 1.23, "HOUSEHOLD"),
        ],
        before.schema.names,
    ).select(
        *[F.col(c).cast(t) for c, t in zip(before.schema.names,
                                           [f.dataType.simpleString()
                                            for f in before.schema.fields])]
    )
    orig3 = before.filter(F.col("c_custkey") == 3).collect()[0]
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    after = repo.read_table(spark, seeded_table)
    assert after.count() == n_before + 1
    got = {
        r["c_custkey"]: r["c_name"]
        for r in after.filter(
            F.col("c_custkey").isin(1, 2, 3, 10_000_001)
        ).collect()
    }
    assert got[1] == "UPDATED-1" and got[2] == "UPDATED-2"
    assert got[10_000_001] == "NEW"
    assert got[3] == orig3["c_name"]  # untouched key preserved verbatim


def test_upsert_idempotent(spark, seeded_table):
    before = repo.read_table(spark, seeded_table)
    updates = spark.createDataFrame(
        before.filter(F.col("c_custkey") < 5)
        .withColumn("c_acctbal", F.lit(42.0))
        .collect(),
        before.schema,
    )
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    once = repo.read_table(spark, seeded_table).toPandas()
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    twice = repo.read_table(spark, seeded_table).toPandas()
    from polybot_data_etl_spark.testing import frames_match

    ok, why = frames_match(
        once.sort_values("c_custkey").reset_index(drop=True),
        twice.sort_values("c_custkey").reset_index(drop=True),
    )
    assert ok, why


def _version_dirs(path):
    return sorted(e for e in os.listdir(path) if e.startswith("v-"))


@contextlib.contextmanager
def _leaves_no_version(path):
    """Assert that the block leaves no new version directory and the
    manifest unchanged."""
    versions = _version_dirs(path)
    current = repo.current_version(path)
    yield
    assert _version_dirs(path) == versions
    assert repo.current_version(path) == current


@pytest.mark.parametrize(
    "ratio", [float("inf"), 0.0], ids=["delta", "fold"]
)
def test_merge_rejects_duplicate_update_keys(
    spark, seeded_table, monkeypatch, ratio
):
    """A merge checks the batch inside its one write job, as a delta or
    as a fold: a repeated key fails it with a counted error, leaving no
    version directory behind and the manifest unchanged."""
    monkeypatch.setattr(repo, "FOLD_RATIO", ratio)
    before = repo.read_table(spark, seeded_table)
    dup = before.limit(1).unionAll(before.limit(1))
    with _leaves_no_version(seeded_table), pytest.raises(
        ValueError, match="key-unique.*2 rows, 1 distinct"
    ):
        repo.merge_upsert(spark, seeded_table, dup, ["c_custkey"])


def test_merge_batch_failing_at_runtime_leaves_no_version(
    spark, seeded_table
):
    """A batch whose non-key column fails while it is written leaves no
    version directory (nor its ``_temporary`` tree) and the manifest
    unchanged, and the write's own error surfaces."""
    before = repo.read_table(spark, seeded_table)
    bad = before.where("c_custkey <= 3").withColumn(
        "c_name",
        F.expr("CASE WHEN c_custkey > 0 THEN raise_error('boom') "
               "ELSE c_name END"),
    )
    with _leaves_no_version(seeded_table), pytest.raises(
        Exception, match="boom"
    ):
        repo.merge_upsert(spark, seeded_table, bad, ["c_custkey"])


def test_concurrent_reader_snapshot_isolation(spark, seeded_table):
    """A reader that resolved the table BEFORE a merge keeps reading its
    immutable version files after the commit — it sees the old snapshot
    in full, never a half-written or vanished table."""
    old_reader = repo.read_table(spark, seeded_table)  # lazy: resolves v1
    old_version = repo.current_version(seeded_table)
    n_before = old_reader.count()
    bal3_before = old_reader.filter(F.col("c_custkey") == 3).collect()[0][
        "c_acctbal"
    ]

    updates = spark.createDataFrame(
        repo.read_table(spark, seeded_table)
        .filter(F.col("c_custkey") == 3)
        .withColumn("c_acctbal", F.lit(-777.0))
        .collect(),
        old_reader.schema,
    )
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])

    # the commit moved the manifest…
    assert repo.current_version(seeded_table) != old_version
    # …but the old snapshot still reads completely and unchanged
    assert old_reader.count() == n_before
    got3 = old_reader.filter(F.col("c_custkey") == 3).collect()[0]["c_acctbal"]
    assert got3 == bal3_before
    # while a fresh resolve sees the merged data
    new3 = (
        repo.read_table(spark, seeded_table)
        .filter(F.col("c_custkey") == 3)
        .collect()[0]["c_acctbal"]
    )
    assert new3 == -777.0


def test_vacuum_reclaims_old_versions(spark, seeded_table):
    updates = spark.createDataFrame(
        repo.read_table(spark, seeded_table)
        .filter(F.col("c_custkey") == 1)
        .withColumn("c_acctbal", F.lit(1.0))
        .collect(),
        repo.read_table(spark, seeded_table).schema,
    )
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    versions = [
        e for e in os.listdir(seeded_table) if e.startswith("v-")
    ]
    assert len(versions) == 2  # old retained for in-flight readers
    removed = repo.vacuum(seeded_table)
    assert len(removed) == 1
    left = [e for e in os.listdir(seeded_table) if e.startswith("v-")]
    assert left == [repo.current_version(seeded_table)]
    # table still reads fine after vacuum
    assert repo.read_table(spark, seeded_table).count() > 0


def test_vacuum_waits_for_writer_lock(spark, seeded_table):
    """vacuum takes the writer lock: a version directory a writer is
    still filling before its manifest swap is neither deleted nor
    raced; vacuum waits, then reclaims only the superseded version."""
    import shutil
    import threading

    path = seeded_table
    old = repo.current_version(path)
    filling = repo._new_version()
    locked, release = threading.Event(), threading.Event()

    def writer():
        with repo.table_lock(path):
            shutil.copytree(os.path.join(path, old), os.path.join(path, filling))
            locked.set()
            release.wait(30)
            repo._commit(path, filling)

    removed = []
    w = threading.Thread(target=writer)
    w.start()
    assert locked.wait(30)
    v = threading.Thread(target=lambda: removed.extend(repo.vacuum(path)))
    v.start()
    v.join(1.0)
    waited = v.is_alive()
    release.set()
    w.join(30)
    v.join(30)
    assert waited, "vacuum ran while a writer held the lock"
    assert removed == [old]
    assert _version_dirs(path) == [filling] == [repo.current_version(path)]
    assert repo.read_table(spark, path).count() > 0


def test_legacy_plain_parquet_migrates(spark, sf_dir, tmp_path):
    """merge_upsert on a pre-managed plain parquet dir adopts it into
    the managed layout, then merges normally."""
    path = str(tmp_path / "legacy_repo")
    table(spark, sf_dir, "customer").write.parquet(path)
    assert not repo.is_managed(path)
    updates = spark.createDataFrame(
        spark.read.parquet(path)
        .filter(F.col("c_custkey") == 1)
        .withColumn("c_name", F.lit("MIGRATED"))
        .collect(),
        spark.read.parquet(path).schema,
    )
    repo.merge_upsert(spark, path, updates, ["c_custkey"])
    assert repo.is_managed(path)
    got = (
        repo.read_table(spark, path)
        .filter(F.col("c_custkey") == 1)
        .collect()[0]["c_name"]
    )
    assert got == "MIGRATED"


def test_dynamic_partition_overwrite_isolation(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = table(spark, sf_dir, "orders")
    repo.overwrite_partitions(spark, orders, path, ["o_orderstatus"])
    statuses = {
        r["o_orderstatus"]
        for r in spark.read.parquet(path).select("o_orderstatus").distinct().collect()
    }
    assert len(statuses) >= 2

    # rewrite ONLY the 'O' partition with a single marker row
    one = orders.filter(F.col("o_orderstatus") == "O").limit(1).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    repo.overwrite_partitions(spark, one, path, ["o_orderstatus"])
    after = spark.read.parquet(path)
    # 'O' partition replaced…
    o_part = after.filter(F.col("o_orderstatus") == "O").collect()
    assert len(o_part) == 1 and o_part[0]["o_totalprice"] == -1.0
    # …every other partition untouched
    other_before = orders.filter(F.col("o_orderstatus") != "O").count()
    other_after = after.filter(F.col("o_orderstatus") != "O").count()
    assert other_before == other_after


def _dim(spark, rows):
    return spark.createDataFrame(rows, "k int, name string, tier string")


def test_scd2_merge_tracks_history(spark, tmp_path):
    path = str(tmp_path / "dim_scd2")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold"), (2, "bob", "silver")]),
        path,
        "2024-01-01 00:00:00",
    )
    # tier change for k=1, no-op for k=2, new key k=3
    repo.scd2_merge(
        spark,
        path,
        _dim(spark, [(1, "alice", "platinum"), (2, "bob", "silver"),
                     (3, "carol", "bronze")]),
        ["k"],
        "2024-02-01 00:00:00",
    )
    t = repo.read_table(spark, path)
    assert t.count() == 4  # closed v1 of k=1 + open k=1,2,3
    cur = {r.k: r for r in t.filter("is_current").collect()}
    assert set(cur) == {1, 2, 3}
    assert cur[1].tier == "platinum"
    assert str(cur[1].valid_from).startswith("2024-02-01")
    assert str(cur[2].valid_from).startswith("2024-01-01")  # untouched
    closed = t.filter(~F.col("is_current")).collect()
    assert len(closed) == 1 and closed[0].k == 1
    assert closed[0].tier == "gold"
    assert str(closed[0].valid_to).startswith("2024-02-01")


def test_scd2_merge_rejects_duplicate_update_keys(spark, tmp_path):
    """SCD-2 checks the batch inside its write job too: a repeated key
    raises the merge's counted error and leaves no version behind."""
    path = str(tmp_path / "dim_dup")
    repo.create_scd2_table(
        spark.createDataFrame([(1, "x")], "k int, a string"),
        path,
        "2024-01-01 00:00:00",
    )
    dup = spark.createDataFrame([(1, "y"), (1, "z")], "k int, a string")
    with _leaves_no_version(path), pytest.raises(
        ValueError, match="key-unique.*2 rows, 1 distinct"
    ):
        repo.scd2_merge(spark, path, dup, ["k"], "2024-02-01 00:00:00")


def test_scd2_merge_idempotent(spark, tmp_path):
    path = str(tmp_path / "dim_scd2_idem")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold")]), path, "2024-01-01 00:00:00"
    )
    batch = _dim(spark, [(1, "alice", "platinum")])
    repo.scd2_merge(spark, path, batch, ["k"], "2024-02-01 00:00:00")
    once = sorted(map(tuple, repo.read_table(spark, path).collect()))
    repo.scd2_merge(spark, path, batch, ["k"], "2024-03-01 00:00:00")
    twice = sorted(map(tuple, repo.read_table(spark, path).collect()))
    assert once == twice  # equal attrs -> no new version rows


def test_scd2_null_attr_transitions(spark, tmp_path):
    """NULL -> value and value -> NULL both count as changes; NULL ->
    NULL does not (eqNullSafe semantics)."""
    path = str(tmp_path / "dim_scd2_null")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", None), (2, "bob", None)]),
        path,
        "2024-01-01 00:00:00",
    )
    repo.scd2_merge(
        spark,
        path,
        _dim(spark, [(1, "alice", "gold"), (2, "bob", None)]),
        ["k"],
        "2024-02-01 00:00:00",
    )
    t = repo.read_table(spark, path)
    assert t.count() == 3  # k=1 closed+new, k=2 untouched
    assert t.filter("k = 2").count() == 1


def test_time_travel_reads_past_versions(spark, tmp_path):
    path = str(tmp_path / "tt")
    repo.create_table(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    repo.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "b"), (2, "c")], "k int, v string"),
        ["k"],
    )
    versions = repo.list_versions(path)
    assert len(versions) == 2
    assert versions[-1] == repo.current_version(path)
    v0 = {(r.k, r.v) for r in repo.read_table(spark, path, -2).collect()}
    assert v0 == {(1, "a")}
    cur = {(r.k, r.v) for r in repo.read_table(spark, path).collect()}
    assert cur == {(1, "b"), (2, "c")}
    # by explicit name too
    assert {
        (r.k, r.v)
        for r in repo.read_table(spark, path, versions[0]).collect()
    } == {(1, "a")}


def test_time_travel_vacuumed_version_raises(spark, tmp_path):
    path = str(tmp_path / "ttv")
    repo.create_table(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    repo.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "b")], "k int, v string"),
        ["k"],
    )
    old = repo.list_versions(path)[0]
    removed = repo.vacuum(path)
    assert old in removed
    assert repo.list_versions(path) == [repo.current_version(path)]
    with pytest.raises(KeyError, match="vacuumed or never"):
        repo.read_table(spark, path, old)


def test_partitioned_table_layout_survives_merge_and_prunes(
    spark, sf_dir, tmp_path
):
    """A managed table created with a partition spec keeps hive
    partitioning across merge_upsert and compact_table versions, and a
    partition-key predicate prunes (PartitionFilters) on every
    snapshot."""
    path = str(tmp_path / "events_part")
    e = table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    repo.create_table(e, path, partition_by=["event_date"])
    assert repo.table_spec(path)["partition_by"] == ["event_date"]

    # version dir is hive-partitioned
    vdir = os.path.join(path, repo.current_version(path))
    assert any(d.startswith("event_date=") for d in os.listdir(vdir))

    # upsert one changed row: the NEW version is partitioned too
    upd = e.filter(F.col("event_id") == 1).withColumn(
        "value", F.lit(123.45)
    )
    repo.merge_upsert(spark, path, upd, ["event_id"])
    vdir2 = os.path.join(path, repo.current_version(path))
    assert vdir2 != vdir
    assert any(d.startswith("event_date=") for d in os.listdir(vdir2))

    got = repo.read_table(spark, path)
    assert got.count() == e.count()
    assert (
        got.filter(F.col("event_id") == 1).select("value").first()[0]
        == 123.45
    )

    # partition pruning in the plan on the current snapshot
    one_day = got.filter(F.col("event_date") == "2024-01-05")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = one_day._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    assert one_day.count() > 0

    # compaction honors the spec as well; time travel intact
    repo.compact_table(spark, path, target_file_rows=10_000)
    vdir3 = os.path.join(path, repo.current_version(path))
    assert any(d.startswith("event_date=") for d in os.listdir(vdir3))
    assert repo.read_table(spark, path).count() == e.count()
    assert repo.read_table(spark, path, version=-2).count() == e.count()


def test_writer_lock_serializes_concurrent_upserts(spark, sf_dir, tmp_path):
    """Two writers merging DISJOINT key sets concurrently must both
    land (the lock serializes the read-merge-swap sequence; an unlocked
    race would let the last swap silently drop the other's commit)."""
    import threading

    path = str(tmp_path / "locked_repo")
    base = table(spark, sf_dir, "customer")
    repo.create_table(base, path)

    def mk_update(key_val, name):
        return (
            base.filter(F.col("c_custkey") == key_val)
            .withColumn("c_name", F.lit(name))
        )

    errs = []

    def writer(key_val, name):
        try:
            repo.merge_upsert(
                spark, path, mk_update(key_val, name), ["c_custkey"]
            )
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(1, "W1"))
    t2 = threading.Thread(target=writer, args=(2, "W2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    final = repo.read_table(spark, path)
    assert final.count() == base.count()
    assert final.filter(F.col("c_custkey") == 1).first().c_name == "W1"
    assert final.filter(F.col("c_custkey") == 2).first().c_name == "W2"
    # lock released
    assert not os.path.exists(os.path.join(path, repo.LOCK))


def test_writer_lock_times_out_and_breaks_stale(spark, sf_dir, tmp_path):
    """A held lock times out a second writer; an orphaned (stale) lock
    is broken and the write proceeds."""
    import time as _time

    path = str(tmp_path / "stale_repo")
    repo.create_table(table(spark, sf_dir, "region"), path)

    lock_path = os.path.join(path, repo.LOCK)
    with open(lock_path, "w") as f:
        f.write("held\n")

    with pytest.raises(TimeoutError):
        with repo.table_lock(path, timeout_s=0.3, stale_s=600.0):
            pass

    # make the same lock stale: it is broken and acquisition succeeds
    old = _time.time() - 1000
    os.utime(lock_path, (old, old))
    with repo.table_lock(path, timeout_s=0.5, stale_s=600.0):
        assert os.path.exists(lock_path)
    assert not os.path.exists(lock_path)


def test_merge_upsert_schema_evolution(spark, sf_dir, tmp_path):
    """ADD COLUMN via upsert: with allow_new_columns=True the new
    column lands in the table schema, surviving rows read NULL for it,
    and the updated row carries its value; without the flag, or with a
    batch missing existing columns, the merge raises."""
    path = str(tmp_path / "evolve_repo")
    base = table(spark, sf_dir, "region")
    repo.create_table(base, path)

    upd = (
        base.filter(F.col("r_regionkey") == 0)
        .withColumn("r_tier", F.lit("gold"))
    )
    with pytest.raises(ValueError, match="adds columns"):
        repo.merge_upsert(spark, path, upd, ["r_regionkey"])
    repo.merge_upsert(
        spark, path, upd, ["r_regionkey"], allow_new_columns=True
    )

    got = repo.read_table(spark, path)
    assert "r_tier" in got.columns
    assert got.count() == base.count()
    assert got.filter(F.col("r_regionkey") == 0).first().r_tier == "gold"
    assert (
        got.filter(F.col("r_regionkey") != 0)
        .filter(F.col("r_tier").isNotNull())
        .count()
        == 0
    )

    # a later batch missing an existing column is rejected
    bad = base.filter(F.col("r_regionkey") == 1)  # lacks r_tier
    with pytest.raises(ValueError, match="lacks table columns"):
        repo.merge_upsert(spark, path, bad, ["r_regionkey"])


def test_refresh_rollup_incremental_equals_recompute(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: fold a new-partition delta
    into the stored daily rollup; the refreshed table must equal a
    full recompute over all history, and version history must show
    exactly one new committed version per refresh."""
    path = str(tmp_path / "rollup")
    e = table(spark, sf_dir, "events")
    grain = [
        F.col("event_type"),
        F.date_trunc("day", "ts").alias("day"),
    ]
    cut = F.lit("2024-01-21").cast("timestamp_ntz")

    def agg(df):
        return df.groupBy(*grain).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )

    repo.create_table(agg(e.filter(F.col("ts") < cut)), path)
    v_before = len(repo.list_versions(path))

    delta = agg(e.filter(F.col("ts") >= cut))
    repo.refresh_rollup(
        spark, path, delta, key=["event_type", "day"], measures=["n", "total"]
    )

    got = repo.read_table(spark, path)
    want = agg(e)
    from polybot_data_etl_spark.testing import frames_match

    # totals were rounded per-slice; re-round after the additive merge
    got_pd = got.select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    want_pd = want.select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    ok, why = frames_match(got_pd, want_pd)
    assert ok, why
    assert len(repo.list_versions(path)) == v_before + 1
    # delta grain must be enforced
    with pytest.raises(ValueError):
        repo.refresh_rollup(
            spark, path,
            delta.unionAll(delta),
            key=["event_type", "day"], measures=["n", "total"],
        )


def test_refresh_rollup_multi_batch_sequence(spark, sf_dir, tmp_path):
    """Day-by-day incremental maintenance: applying two successive
    deltas (week 3, then week 4) must land exactly where one full
    recompute lands — the associativity that makes additive rollups
    safe to maintain forever."""
    path = str(tmp_path / "rollup_seq")
    e = table(spark, sf_dir, "events")
    grain = [F.col("event_type"), F.date_trunc("day", "ts").alias("day")]
    c1 = F.lit("2024-01-15").cast("timestamp_ntz")
    c2 = F.lit("2024-01-22").cast("timestamp_ntz")

    def agg(df):
        return df.groupBy(*grain).agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )

    repo.create_table(agg(e.filter(F.col("ts") < c1)), path)
    repo.refresh_rollup(
        spark, path,
        agg(e.filter((F.col("ts") >= c1) & (F.col("ts") < c2))),
        key=["event_type", "day"], measures=["n", "total"],
    )
    repo.refresh_rollup(
        spark, path,
        agg(e.filter(F.col("ts") >= c2)),
        key=["event_type", "day"], measures=["n", "total"],
    )
    from polybot_data_etl_spark.testing import frames_match

    got = repo.read_table(spark, path).select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    want = agg(e).select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    ok, why = frames_match(got, want)
    assert ok, why


@pytest.mark.parametrize(
    "writer", ["scd2_merge", "cluster_table", "refresh_rollup"]
)
def test_writer_reads_target_under_lock(spark, tmp_path, monkeypatch, writer):
    """Every mutation must resolve its target version UNDER the writer
    lock: a commit that lands while the writer waits for the lock must
    survive the writer's own commit.  Deterministic form of the race:
    the patched lock lets a second writer commit on entry, then takes
    the real lock."""
    path = str(tmp_path / writer)
    if writer == "scd2_merge":
        repo.create_scd2_table(
            spark.createDataFrame([(1, "x"), (2, "x")], "k int, a string"),
            path,
            "2024-01-01 00:00:00",
        )
        # the second writer inserts open key 9
        def second(cur):
            return cur.unionByName(
                cur.filter("k = 1").withColumn("k", F.lit(9))
            )

        def run():
            batch = spark.createDataFrame([(1, "y")], "k int, a string")
            repo.scd2_merge(spark, path, batch, ["k"], "2024-02-01 00:00:00")

        want = {(1, "x", False), (1, "y", True), (2, "x", True),
                (9, "x", True)}

        def got():
            return {
                (r.k, r.a, r.is_current)
                for r in repo.read_table(spark, path).collect()
            }
    elif writer == "cluster_table":
        repo.create_table(
            spark.range(20).selectExpr("id AS a", "id * 7 % 20 AS b"), path
        )

        def second(cur):
            return cur.unionByName(spark.createDataFrame([(99, 99)], "a long, b long"))

        def run():
            repo.cluster_table(spark, path, ["a", "b"], n_files=2)

        want = {(i, i * 7 % 20) for i in range(20)} | {(99, 99)}

        def got():
            return {(r.a, r.b) for r in repo.read_table(spark, path).collect()}
    else:
        repo.create_table(
            spark.createDataFrame([(1, 10), (2, 10)], "k int, n long"), path
        )
        # the second writer's refresh adds 5 to key 1
        def second(cur):
            return cur.withColumn(
                "n", F.expr("CASE WHEN k = 1 THEN n + 5 ELSE n END")
            )

        def run():
            delta = spark.createDataFrame([(1, 1), (3, 1)], "k int, n long")
            repo.refresh_rollup(spark, path, delta, ["k"], ["n"])

        want = {(1, 16), (2, 10), (3, 1)}

        def got():
            return {(r.k, r.n) for r in repo.read_table(spark, path).collect()}

    real_lock = repo.table_lock
    entered = []

    @contextlib.contextmanager
    def racing_lock(p, *args, **kwargs):
        if not entered:
            entered.append(p)
            repo._publish(p, second(repo.read_table(spark, p)))
        with real_lock(p, *args, **kwargs):
            yield

    monkeypatch.setattr(repo, "table_lock", racing_lock)
    run()
    assert entered, f"{writer} never took the writer lock"
    assert got() == want


def test_key_uniqueness_counts_null_keys_once(spark):
    """The one-pass uniqueness check keeps distinct()'s NULL handling:
    two NULL keys are one key (rejected), NULL next to 1 is two."""
    dup = spark.createDataFrame([(None, 1), (None, 2)], "k int, v int")
    with pytest.raises(ValueError, match="2 rows, 1 distinct keys"):
        repo._check_key_unique(dup, ["k"], "batch must be unique on")
    ok = spark.createDataFrame([(None, 1), (1, 2)], "k int, v int")
    repo._check_key_unique(ok, ["k"], "batch must be unique on")


# --- merge-on-read: deltas, their resolution, and the fold ----------------

_KV = "k long, v string"


def _deltas(path):
    """``__seq`` directories of the current version (0 once folded)."""
    ddir = os.path.join(path, repo.current_version(path), repo.DELTA)
    return sorted(os.listdir(ddir)) if os.path.isdir(ddir) else []


def _rows(spark, path, version=None):
    return sorted(
        map(tuple, repo.read_table(spark, path, version).collect()),
        key=repr,
    )


@pytest.fixture()
def no_fold(monkeypatch):
    monkeypatch.setattr(repo, "FOLD_RATIO", float("inf"))


def test_key_updated_three_times_reads_newest(spark, tmp_path, no_fold):
    path = str(tmp_path / "three")
    repo.create_table(spark.createDataFrame([(1, "a"), (2, "a")], _KV), path)
    for v in ("b", "c", "d"):
        repo.merge_upsert(
            spark, path, spark.createDataFrame([(1, v)], _KV), ["k"]
        )
    assert len([d for d in _deltas(path) if d.startswith("__seq=")]) == 3
    assert _rows(spark, path) == [(1, "d"), (2, "a")]
    # time travel on a version that has deltas
    assert _rows(spark, path, -2) == [(1, "c"), (2, "a")]
    assert _rows(spark, path, -4) == [(1, "a"), (2, "a")]


@pytest.mark.parametrize("ratio", [float("inf"), 0.0], ids=["deltas", "folds"])
def test_null_key_rows_all_survive(spark, tmp_path, monkeypatch, ratio):
    """Keys match with ``=``: a NULL-key row is never replaced, so the
    base's and every batch's NULL-key rows all survive — with deltas
    and with a fold alike."""
    monkeypatch.setattr(repo, "FOLD_RATIO", ratio)
    path = str(tmp_path / "nulls")
    repo.create_table(
        spark.createDataFrame([(None, "base"), (1, "a")], _KV), path
    )
    for batch in ([(None, "d1"), (1, "b")], [(None, "d2"), (2, "c")]):
        repo.merge_upsert(spark, path, spark.createDataFrame(batch, _KV), ["k"])
    assert bool(_deltas(path)) == (ratio > 0)
    assert _rows(spark, path) == sorted(
        [(None, "base"), (None, "d1"), (None, "d2"), (1, "b"), (2, "c")],
        key=repr,
    )


def test_pinned_reader_keeps_snapshot_across_fold(spark, tmp_path, monkeypatch):
    """A delta version's base files are hard links: vacuuming the
    version they came from leaves it readable, and a reader pinned to it
    keeps its snapshot when a later merge folds."""
    monkeypatch.setattr(repo, "FOLD_RATIO", float("inf"))
    path = str(tmp_path / "pinned")
    repo.create_table(spark.createDataFrame([(1, "a"), (2, "a")], _KV), path)
    repo.merge_upsert(spark, path, spark.createDataFrame([(1, "b")], _KV), ["k"])
    assert repo.vacuum(path)  # drops the version the links came from
    pinned = repo.read_table(spark, path)
    monkeypatch.setattr(repo, "FOLD_RATIO", 0.0)
    repo.merge_upsert(spark, path, spark.createDataFrame([(2, "c")], _KV), ["k"])
    assert not _deltas(path)
    assert sorted(map(tuple, pinned.collect())) == [(1, "b"), (2, "a")]
    assert _rows(spark, path) == [(1, "b"), (2, "c")]
    repo.vacuum(path)
    assert _rows(spark, path) == [(1, "b"), (2, "c")]


def test_partitioned_table_prunes_after_delta_merge(
    spark, sf_dir, tmp_path, no_fold
):
    """With deltas, the base scan (the bulk of the table) still prunes
    on the _SPEC partition column; results match the merged rows."""
    path = str(tmp_path / "events_mor")
    e = table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    repo.create_table(e, path, partition_by=["event_date"])
    upd = e.filter(F.col("event_id") == 1).withColumn("value", F.lit(123.45))
    repo.merge_upsert(spark, path, upd, ["event_id"])
    assert _deltas(path)
    day = upd.select("event_date").first()[0]
    one_day = repo.read_table(spark, path).filter(F.col("event_date") == day)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = one_day._jdf.queryExecution().explainString(mode)

    def field(scan, name):
        return next((ln for ln in scan.splitlines() if ln.startswith(name)), "")

    vdir = repo.current_version(path)
    base_scans = [
        s for s in plan.split("Scan parquet")
        if field(s, "Location:").endswith(f"{vdir}]")
    ]
    assert base_scans, plan
    assert all(
        "event_date" in field(s, "PartitionFilters:") for s in base_scans
    ), plan
    assert one_day.count() == e.filter(F.col("event_date") == day).count()
    assert one_day.filter("event_id = 1").first().value == 123.45


def test_new_column_merge_folds(spark, sf_dir, tmp_path, no_fold):
    """allow_new_columns folds even when the size rule would not: the
    new version has no deltas, earlier delta updates survive, and
    surviving rows read NULL for the new column."""
    path = str(tmp_path / "evolve_fold")
    base = table(spark, sf_dir, "region")
    repo.create_table(base, path)
    repo.merge_upsert(
        spark, path,
        base.filter("r_regionkey = 1").withColumn("r_name", F.lit("DELTA")),
        ["r_regionkey"],
    )
    assert _deltas(path)
    repo.merge_upsert(
        spark, path,
        base.filter("r_regionkey = 0").withColumn("r_tier", F.lit("gold")),
        ["r_regionkey"], allow_new_columns=True,
    )
    assert not _deltas(path)
    got = {r.r_regionkey: r for r in repo.read_table(spark, path).collect()}
    assert len(got) == base.count()
    assert got[0].r_tier == "gold" and got[1].r_name == "DELTA"
    assert all(r.r_tier is None for k, r in got.items() if k != 0)


def test_read_table_starts_no_job(spark, tmp_path, no_fold):
    """read_table takes its schema from a data file's footer: resolving
    a version with deltas starts no Spark job."""
    path = str(tmp_path / "nojob")
    repo.create_table(spark.createDataFrame([(1, "a"), (2, "a")], _KV), path)
    for v in ("b", "c"):
        repo.merge_upsert(spark, path, spark.createDataFrame([(1, v)], _KV), ["k"])
    assert _deltas(path)
    sc = spark.sparkContext
    group = "repository-read-table"
    sc.setJobGroup(group, group)
    try:
        frames = [repo.read_table(spark, path, v) for v in (None, -2, -3)]
        schemas = [f.schema.simpleString() for f in frames]
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert schemas == ["struct<k:bigint,v:string>"] * 3
    assert jobs == []


@pytest.mark.parametrize("ratio", [0.0, float("inf")], ids=["every-merge-folds", "never-folds"])
def test_forty_batches_match_duckdb_replay(
    spark, sf_dir, duck, tmp_path, monkeypatch, ratio
):
    """Both branches of the fold rule, forced: 40 seeded batches of the
    orders whose key is r mod 30, each adding a price delta, land where
    DuckDB's replay (newest delta per residue) lands."""
    import random

    from polybot_data_etl_spark.testing import canon_frame

    monkeypatch.setattr(repo, "FOLD_RATIO", ratio)
    path = str(tmp_path / "orders_mor")
    orders = table(spark, sf_dir, "orders")
    repo.create_table(orders, path)
    rng = random.Random(7)
    batches = [(rng.randrange(30), rng.randint(1, 9)) for _ in range(40)]
    for r, d in batches:
        repo.merge_upsert(
            spark, path,
            orders.where(F.col("o_orderkey") % 30 == r).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(float(d))
            ),
            ["o_orderkey"],
        )
    assert bool(_deltas(path)) == (ratio > 0)
    values = ", ".join(f"({i}, {r}, {d})" for i, (r, d) in enumerate(batches))
    want = duck.execute(
        f"""
        WITH b(i, r, delta) AS (VALUES {values}),
        last AS (SELECT r, arg_max(delta, i) AS delta FROM b GROUP BY r)
        SELECT o.* REPLACE (
            CASE WHEN last.delta IS NULL THEN o.o_totalprice
                 ELSE o.o_totalprice + last.delta END AS o_totalprice)
        FROM orders o LEFT JOIN last ON o.o_orderkey % 30 = last.r
        """
    ).fetchdf()
    got = repo.read_table(spark, path).toPandas()
    assert canon_frame(got)[:3] == canon_frame(want)[:3]
