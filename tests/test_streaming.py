"""Streaming operators #67-70 via batch↔stream equivalence
(SURVEY.md §5.3): replay events.parquet as file drops; the streaming
result must equal the (DuckDB-checked) batch twin on the same rows,
restricted to windows/sessions the final watermark has finalized.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import SCHEMAS
from polybot_data_etl_spark.streaming import jobs
from polybot_data_etl_spark.testing import frames_match, replay_events_chunks


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replay"))
    return replay_events_chunks(spark, sf_dir, out, n_chunks=4)


@pytest.fixture(scope="module")
def batch_events(spark, replay_dir):
    # Same LTZ cast as events_file_stream so window buckets compare 1:1.
    return (
        spark.read.schema(SCHEMAS["events"])
        .parquet(replay_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _run(spark, stream_df, tmp_path, mode="append", name="out"):
    jobs.run_to_completion(
        stream_df, str(tmp_path / f"ckpt_{name}"), output_mode=mode, table_name=name
    )
    return spark.table(name).toPandas()


def test_streaming_tumbling_equals_batch(spark, replay_dir, batch_events, tmp_path):
    """#67: append-mode watermarked tumbling agg == batch agg on the
    finalized windows (window end ≤ final watermark)."""
    got = _run(
        spark,
        jobs.tumbling_agg(jobs.events_file_stream(spark, replay_dir), "10 minutes"),
        tmp_path,
        name="tumbling",
    )
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    batch = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("bucket"), "n", "total", F.col("w.end"))
        .toPandas()
    )
    import pandas as pd

    watermark = max_ts - pd.Timedelta(minutes=10)
    finalized = batch[batch["end"] <= watermark].drop(columns=["end"])
    ok, why = frames_match(got, finalized)
    assert ok, why
    assert len(got) > 0


def test_streaming_dedup(spark, sf_dir, replay_dir, tmp_path):
    """#68: duplicated drops collapse back to unique event_ids."""
    import os
    import shutil

    dup_dir = str(tmp_path / "dup_stream")
    os.makedirs(dup_dir)
    names = sorted(os.listdir(replay_dir))
    for f in names:
        shutil.copy(f"{replay_dir}/{f}", f"{dup_dir}/{f}")
    # Re-drop the first two chunks at the end: exact duplicate rows
    # arriving in later micro-batches (within the 31-day watermark).
    for i, f in enumerate(names[:2]):
        shutil.copy(f"{replay_dir}/{f}", f"{dup_dir}/zz_dup_{i}.parquet")

    got = _run(
        spark,
        jobs.stream_dedup(jobs.events_file_stream(spark, dup_dir), "31 days"),
        tmp_path,
        name="dedup",
    )
    batch = spark.read.schema(SCHEMAS["events"]).parquet(replay_dir).toPandas()
    assert len(got) == len(batch)
    assert set(got.event_id) == set(batch.event_id)


def test_streaming_interval_join_equals_batch(
    spark, replay_dir, batch_events, tmp_path
):
    """#69: stream-stream interval join == batch range join (ts-ordered
    replay, so no candidate is evicted before its match arrives)."""
    left = jobs.events_file_stream(spark, replay_dir)
    right = jobs.events_file_stream(spark, replay_dir)
    got = _run(spark, jobs.interval_join(left, right), tmp_path, name="ij")

    a = batch_events.alias("a")
    b = batch_events.alias("b")
    batch = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("a.event_id").alias("a_id"),
            F.col("b.event_id").alias("b_id"),
            F.col("a.user_id").alias("user_id"),
        )
        .toPandas()
    )
    assert set(map(tuple, got[["a_id", "b_id"]].values)) == set(
        map(tuple, batch[["a_id", "b_id"]].values)
    )
    assert len(got) == len(batch)


def test_streaming_sessionize_finalized_sessions(
    spark, replay_dir, batch_events, tmp_path
):
    """#70: stateful sessionization — emitted sessions == batch sessions
    whose end the watermark has passed."""
    got = _run(
        spark,
        jobs.sessionize(jobs.events_file_stream(spark, replay_dir)),
        tmp_path,
        name="sessions",
    )
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    batch = (
        batch_events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n",
            "total",
        )
        .toPandas()
    )
    finalized = batch[batch["s_end"] <= max_ts]
    ok, why = frames_match(got, finalized)
    assert ok, why
    assert len(got) > 0


def test_streaming_stateful_user_stats_equals_batch(
    spark, replay_dir, batch_events, tmp_path
):
    """applyInPandasWithState custom state: the LAST update-mode
    emission per user equals the batch per-user aggregate."""
    got = _run(
        spark,
        jobs.stateful_user_stats(jobs.events_file_stream(spark, replay_dir)),
        tmp_path,
        mode="update",
        name="userstats",
    )
    # update mode re-emits a user on every batch that touches them;
    # keep the final (cumulative) row per user
    final = got.groupby("user_id", as_index=False).agg(
        n=("n", "max"), total=("total", "last")
    )
    batch = (
        batch_events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .toPandas()
    )
    ok, why = frames_match(final, batch)
    assert ok, why
    assert len(final) > 0


def test_streaming_ohlc_equals_batch(spark, replay_dir, batch_events, tmp_path):
    """Streaming OHLC bars (min_by/max_by in streaming state) == batch
    bars on the finalized windows."""
    got = _run(
        spark,
        jobs.windowed_ohlc(jobs.events_file_stream(spark, replay_dir), "10 minutes"),
        tmp_path,
        name="ohlc",
    )
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    key = F.struct("ts", "event_id")
    batch = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", key), 2).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
            F.col("w.end"),
        )
        .toPandas()
    )
    import pandas as pd

    watermark = max_ts - pd.Timedelta(minutes=10)
    finalized = batch[batch["end"] <= watermark].drop(columns=["end"])
    ok, why = frames_match(got, finalized)
    assert ok, why
    assert len(got) > 0


def test_streaming_stateful_ewma_equals_batch_fold(
    spark, replay_dir, batch_events, tmp_path
):
    """The stateful EWMA's final emission per user equals the batch
    left fold over that user's full (ts, event_id)-ordered history —
    bit-identical IEEE ops, compared after a shared 6-dp rounding."""
    import numpy as np

    got = _run(
        spark,
        jobs.stateful_ewma(jobs.events_file_stream(spark, replay_dir)),
        tmp_path,
        mode="update",
        name="ewma",
    )
    final = got.groupby("user_id", as_index=False).agg(ewma=("ewma", "last"))
    batch = (
        batch_events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("a")
        )
        .select(
            "user_id",
            F.expr(
                "aggregate(slice(transform(a, s -> s.value), 2, size(a) - 1),"
                " cast(element_at(transform(a, s -> s.value), 1) as double),"
                " (acc, x) -> acc * 0.75 + x * 0.25)"
            ).alias("ewma"),
        )
        .toPandas()
    )
    final["ewma"] = np.round(final["ewma"], 6)
    batch["ewma"] = np.round(batch["ewma"], 6)
    ok, why = frames_match(final, batch)
    assert ok, why
    assert len(final) > 0


def test_stream_upsert_into_managed_table(spark, replay_dir, batch_events, tmp_path):
    """Streaming incremental load: replayed chunks merge-upserted into a
    managed table equal the full batch input, and the table commits via
    the manifest protocol (snapshot-isolated, vacuumable)."""
    from polybot_data_etl_spark.sources import repository as repo

    path = str(tmp_path / "events_managed")
    jobs.stream_upsert_to_table(
        jobs.events_file_stream(spark, replay_dir),
        path,
        str(tmp_path / "ckpt_upsert"),
        key=["event_id"],
    )
    assert repo.is_managed(path)
    got = repo.read_table(spark, path).toPandas()
    want = batch_events.toPandas()
    ok, why = frames_match(
        got.sort_values("event_id").reset_index(drop=True),
        want.sort_values("event_id").reset_index(drop=True),
    )
    assert ok, why
    # one committed version per micro-batch, all reclaimable but current
    import os

    versions = [v for v in os.listdir(path) if v.startswith("v-")]
    assert len(versions) >= 2
    repo.vacuum(path)
    assert repo.read_table(spark, path).count() == len(want)


def test_stream_static_enrich_equals_batch_join(
    spark, replay_dir, batch_events, tmp_path
):
    """Stream-static join: every streamed event enriched with the batch
    per-type stats equals the batch join — no watermark needed, static
    side broadcast."""
    static = (
        batch_events.groupBy("event_type")
        .agg(F.round(F.avg("value"), 2).alias("type_avg"))
    )
    got = _run(
        spark,
        jobs.stream_static_enrich(
            jobs.events_file_stream(spark, replay_dir), static
        ).select("event_id", "event_type", "type_avg"),
        tmp_path,
        name="enrich",
    )
    batch = (
        batch_events.join(static, "event_type", "left")
        .select("event_id", "event_type", "type_avg")
        .toPandas()
    )
    ok, why = frames_match(got, batch)
    assert ok, why
    assert len(got) == len(batch) > 0


def test_streaming_restart_resumes_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """Kill-and-restart: a watermarked aggregation stopped after the
    first chunks and RESTARTED on the same checkpoint must (a) not
    reprocess finalized state (exactly-once effect) and (b) end up
    equal to an uninterrupted run over all chunks."""
    import os
    import shutil

    def run_to_files(stream_df, ckpt, out_dir):
        # the file sink (unlike the memory sink) supports checkpoint
        # recovery, and its _spark_metadata commit log makes the output
        # exactly-once across restarts
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    src_all = replay_events_chunks(
        spark, sf_dir, str(tmp_path / "full_replay"), n_chunks=4
    )
    chunks = sorted(os.listdir(src_all))
    live = str(tmp_path / "live_stream")
    os.makedirs(live)
    ckpt = str(tmp_path / "ckpt_restart")
    out = str(tmp_path / "out_restart")
    # phase 1: only the first two chunks exist
    for f in chunks[:2]:
        shutil.copy(f"{src_all}/{f}", f"{live}/{f}")
    run_to_files(
        jobs.tumbling_agg(jobs.events_file_stream(spark, live), "10 minutes"),
        ckpt,
        out,
    )
    n_phase1 = spark.read.parquet(out).count()

    # phase 2: the remaining chunks arrive; RESTART on the same
    # checkpoint and the same sink
    for f in chunks[2:]:
        shutil.copy(f"{src_all}/{f}", f"{live}/{f}")
    run_to_files(
        jobs.tumbling_agg(jobs.events_file_stream(spark, live), "10 minutes"),
        ckpt,
        out,
    )
    combined = spark.read.parquet(out).toPandas()
    # the restarted query emits only NEW finalized windows — no overlap
    assert combined["bucket"].is_unique

    # uninterrupted reference run over the same files
    ref_out = str(tmp_path / "out_ref")
    run_to_files(
        jobs.tumbling_agg(jobs.events_file_stream(spark, src_all), "10 minutes"),
        str(tmp_path / "ckpt_ref"),
        ref_out,
    )
    ref = spark.read.parquet(ref_out).toPandas()
    ok, why = frames_match(combined, ref)
    assert ok, why
    assert n_phase1 > 0 and len(combined) > n_phase1


def test_streaming_interval_join_outer_equals_batch(
    spark, replay_dir, batch_events, tmp_path
):
    """Left-outer stream-stream interval join: matched pairs equal the
    batch left-join's matched set exactly; null-extended rows equal the
    batch unmatched set for every left event old enough that the final
    watermark (max ts) proves no in-band match can still arrive.
    Younger unmatched lefts stay buffered when the query stops — the
    honest outer-join watermark semantic, not a bug."""
    left = jobs.events_file_stream(spark, replay_dir)
    right = jobs.events_file_stream(spark, replay_dir)
    got = _run(
        spark,
        jobs.interval_join_outer(left, right),
        tmp_path,
        name="ijo",
    )

    a = batch_events.alias("a")
    b = batch_events.alias("b")
    batch = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .select(
            F.col("a.event_id").alias("a_id"),
            F.col("b.event_id").alias("b_id"),
            F.col("a.ts").alias("a_ts"),
        )
        .toPandas()
    )
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    import pandas as pd

    horizon = max_ts - pd.Timedelta(hours=1)

    got_matched = got[got["b_id"].notna()]
    batch_matched = batch[batch["b_id"].notna()]
    assert set(map(tuple, got_matched[["a_id", "b_id"]].values)) == set(
        map(tuple, batch_matched[["a_id", "b_id"]].values)
    )
    # null-extended rows: complete for lefts beyond the eviction horizon
    got_null_old = set(got[got["b_id"].isna() & (got["a_ts"] < horizon)]["a_id"])
    batch_null_old = set(
        batch[batch["b_id"].isna() & (batch["a_ts"] < horizon)]["a_id"]
    )
    assert got_null_old == batch_null_old
    assert len(batch_null_old) > 0, "fixture must exercise null-extension"
    # and no spurious null-extension anywhere
    assert set(got[got["b_id"].isna()]["a_id"]) <= set(
        batch[batch["b_id"].isna()]["a_id"]
    )


def test_streaming_rollup_exactly_once(spark, sf_dir, replay_dir, batch_events, tmp_path):
    """Streaming continuous aggregate == batch rollup over the same
    events, and a REPLAYED micro-batch is skipped by the batch-id
    ledger instead of double-counting (additive refresh is not
    idempotent, so the ledger is what makes the sink exactly-once)."""
    path = str(tmp_path / "stream_rollup")
    jobs.stream_rollup_to_table(
        jobs.events_file_stream(spark, replay_dir),
        path,
        str(tmp_path / "ckpt_rollup"),
    )
    from polybot_data_etl_spark.sources import repository as repo
    from polybot_data_etl_spark.testing import frames_match

    want = (
        batch_events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .toPandas()
    )
    got = (
        repo.read_table(spark, path)
        .select("event_type", "day", "n", F.round("total", 2).alias("total"))
        .toPandas()
    )
    ok, why = frames_match(got, want)
    assert ok, why

    # simulate an at-least-once replay: run the whole stream again on
    # the SAME checkpoint — no new files, no new batches, and even if
    # foreachBatch re-fired, the ledger blocks re-folding
    before = got
    jobs.stream_rollup_to_table(
        jobs.events_file_stream(spark, replay_dir),
        path,
        str(tmp_path / "ckpt_rollup"),
    )
    after = (
        repo.read_table(spark, path)
        .select("event_type", "day", "n", F.round("total", 2).alias("total"))
        .toPandas()
    )
    ok, why = frames_match(before, after)
    assert ok, f"replay double-counted: {why}"


def test_rate_source_runs_tumbling_job(spark):
    """VERDICT r3 #7: the same windowed-agg job code must run from a
    broker-shaped UNBOUNDED source, not only the file source.  The
    public rate-micro-batch source stands in for Kafka (external jar);
    deterministic timestamps/values let this assert exact aggregates:
    value = row_id % 10, so every 100-row batch sums to 450 and
    total == n * 4.5 at any batch count."""
    import time

    q = (
        jobs.tumbling_agg(jobs.events_rate_stream(spark, 100), "0 seconds")
        .writeStream.format("memory")
        .queryName("rate_tumbling")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.table("rate_tumbling").collect()
            if rows and rows[0]["n"] >= 200:  # ≥2 micro-batches folded in
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows, "no micro-batch reached the sink in 60s"
    rows = spark.table("rate_tumbling").collect()
    assert [c for c in spark.table("rate_tumbling").columns] == [
        "bucket", "n", "total",
    ]
    # startTimestamp=0, 1s/batch: everything lands in the epoch-hour window
    assert len(rows) == 1
    r = rows[0]
    assert r["n"] % 100 == 0 and r["n"] >= 200
    assert float(r["total"]) == pytest.approx(r["n"] * 4.5)


def test_broker_stream_bounds_micro_batch_sizes(spark, sf_dir, tmp_path):
    """VERDICT r4 #9: the Kafka-shaped file-replay broker must honor
    maxOffsetsPerTrigger-style batch-size control — every micro-batch
    processes at most the offset cap, all batches except the tail are
    full, and the replay covers every event exactly once."""
    from polybot_data_etl_spark.testing import broker_topic_chunks

    topic = broker_topic_chunks(spark, sf_dir, str(tmp_path), chunk_rows=200)
    stream = jobs.events_broker_stream(
        spark, topic, max_offsets_per_trigger=600, chunk_rows=200
    )
    sizes: list[int] = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: sizes.append(df.count())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_broker"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = (
        spark.read.schema(SCHEMAS["events"]).parquet(topic).count()
    )
    assert sum(sizes) == total, "replay must cover every offset exactly once"
    assert max(sizes) <= 600, f"batch exceeded the offset cap: {sizes}"
    # deterministic slicing: every batch but the last is exactly full
    assert all(s == 600 for s in sizes[:-1]), sizes
    # a cap below the chunk granularity is a contract error, not silent
    with pytest.raises(ValueError, match="max_offsets_per_trigger"):
        jobs.events_broker_stream(spark, topic, 100, chunk_rows=200)


def test_streaming_stateful_quantile_equals_batch_reservoir(
    spark, replay_dir, batch_events, tmp_path
):
    """Bounded min-hash reservoir quantile: the LAST update-mode
    emission per user must equal the batch median over the same
    deterministic k-sample — proving the reservoir merges across
    micro-batches independent of chunking."""
    got = _run(
        spark,
        jobs.stateful_quantile(jobs.events_file_stream(spark, replay_dir)),
        tmp_path,
        mode="update",
        name="quant",
    )
    final = got.groupby("user_id", as_index=False).agg(
        n_sampled=("n_sampled", "last"), median_est=("median_est", "last")
    )
    rows = batch_events.select("user_id", "event_id", "value").collect()
    per = {}
    for r in rows:
        per.setdefault(r.user_id, []).append(
            (r.event_id * 2654435761 % 1000000007, r.value)
        )
    want = []
    for u, pairs in per.items():
        vs = sorted(v for _, v in sorted(pairs)[:32])
        n = len(vs)
        med = vs[n // 2] if n % 2 else (vs[n // 2 - 1] + vs[n // 2]) / 2.0
        want.append((u, n, round(med, 4)))
    wdf = (
        __import__("pandas")
        .DataFrame(want, columns=["user_id", "n_sampled", "median_est"])
    )
    ok, why = frames_match(final, wdf)
    assert ok, why
    assert len(final) > 0


def test_streaming_sliding_error_share_equals_batch(
    spark, replay_dir, batch_events, tmp_path
):
    """Streaming multi-window burn-rate (sliding 6h/1h error-share
    windows, the q_ts_burn_rate streaming twin): append-mode output on
    finalized windows must equal the batch sliding-window aggregation
    on the same rows."""
    got = _run(
        spark,
        jobs.sliding_error_share(jobs.events_file_stream(spark, replay_dir)),
        tmp_path,
        name="sliding_share",
    )
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    batch = (
        batch_events.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("errors"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "events",
            "errors",
            F.round(
                F.col("errors") / F.col("events").cast("double")
                + F.lit(1e-9),
                4,
            ).alias("error_share"),
            F.col("w.end").alias("end"),
        )
        .toPandas()
    )
    import pandas as pd

    watermark = max_ts - pd.Timedelta(minutes=10)
    finalized = batch[batch["end"] <= watermark].drop(columns=["end"])
    ok, why = frames_match(got, finalized)
    assert ok, why
    # every event lands in exactly 6 sliding windows, so window-event
    # mass is 6x the row count over the fully-covered interior
    assert len(got) > 0


def _events_drop(path, **overrides):
    """A 2-row events parquet in the pinned layout, written by pyarrow,
    with named columns replaced (None drops the column)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5]),
        "props": pa.array(["{}", "{}"]),
    }
    cols.update(overrides)
    pq.write_table(
        pa.table({k: v for k, v in cols.items() if v is not None}), path
    )


@pytest.mark.parametrize(
    "column, override",
    [("ts", "tz"), ("value", None), ("ts", "ns")],
    ids=["tz-aware-ts", "missing-column", "ns-ts"],
)
def test_stream_drop_drift_is_named(spark, tmp_path, column, override):
    """Given a schema, the file source reads a tz-aware ts as
    TIMESTAMP_NTZ and a missing column as NULLs without error, and a
    stream has no rebuild for an ns ts.  Both stream sources
    footer-check every drop present at start and name the drifted
    column and file, here a drifted drop that sorts after a good one."""
    import datetime

    import pyarrow as pa

    if override in ("tz", "ns"):
        ts = [datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)]
        unit, tz = ("us", "UTC") if override == "tz" else ("ns", None)
        override = pa.array(ts, pa.timestamp(unit, tz=tz))
    drops = tmp_path / "drops"
    drops.mkdir()
    _events_drop(str(drops / "drop_0.parquet"))
    _events_drop(str(drops / "drop_1.parquet"), **{column: override})
    for start in (jobs.events_file_stream, jobs.events_broker_stream):
        with pytest.raises(
            RuntimeError,
            match=rf"fixture layout drift detected:\s+events\.{column}:.*\[drop_1\.parquet\]$",
        ):
            start(spark, str(drops))


def test_stream_starts_on_empty_directory(spark, tmp_path):
    """The footer check runs only over drops already present: a stream
    over a directory that has none yet still starts."""
    empty = tmp_path / "empty"
    empty.mkdir()
    assert jobs.events_file_stream(spark, str(empty)).isStreaming
    assert jobs.events_broker_stream(spark, str(empty)).isStreaming
