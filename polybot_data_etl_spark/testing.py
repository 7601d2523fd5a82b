"""Shared test/verification utilities: canonical frame comparison
(mirrors the driver's row-count + schema + order-insensitive value-hash
gate — the one hasher, shared by tier-1 and scripts/check_oracle.py)
and the events replay harness for streaming tests.
"""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd


def canon_cell(v) -> str:
    """Engine-independent canonical string for one cell."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # NaN→NULL is representation-forced, not a leniency: pandas
            # float64 (the dtype both spark.toPandas() and duckdb.df()
            # produce) stores SQL NULL as NaN, so the two are already
            # indistinguishable by the time any pandas-based hasher
            # sees the cell.
            return "NULL"
        # NO -0.0 normalization: the gate this mirrors is signed-zero-
        # strict (repr(-0.0) == '-0.0' != '0.0'), and a fold here once
        # masked a real deterministic red for two rounds (q_stats_fdr,
        # VERDICT r7 §What's wrong #1/#2).  Signed-zero divergences
        # must be fixed at the query's emit side (+ 0.0 on both
        # engines), never in the hasher.
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def canon_frame(df: pd.DataFrame) -> tuple[int, list[str], str, list[str]]:
    """(row_count, sorted column names, order-insensitive value hash,
    first 5 canonical rows) for a result frame."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = ["\x1f".join(canon_cell(v) for v in tup)
            for tup in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(rows), cols, h, rows[:5]


def frames_match(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> tuple[bool, str]:
    """Driver-gate-shaped comparison; returns (ok, human diagnosis)."""
    sn, scols, shash, srows = canon_frame(spark_pd)
    dn, dcols, dhash, drows = canon_frame(duck_pd)
    if scols != dcols:
        return False, f"columns differ: spark={scols} duck={dcols}"
    if sn != dn:
        return False, f"row counts differ: spark={sn} duck={dn}"
    if shash != dhash:
        return False, (
            f"value hash differs; spark sample={srows[:3]} duck sample={drows[:3]}"
        )
    return True, f"{sn} rows match"


def broker_topic_chunks(
    spark, sf_dir: str, out_dir: str, chunk_rows: int = 200
) -> str:
    """Write events as fixed-size "offset chunk" files — the file-replay
    broker fixture (VERDICT r4 #9).

    A Kafka topic partition is an offset-ordered log consumed in
    bounded slices (`maxOffsetsPerTrigger`); the closest public-Spark
    analogue is a directory of fixed-row files consumed with
    `maxFilesPerTrigger`, giving offsets-per-trigger =
    files_per_trigger × chunk_rows.  Events are ts-ordered so replay
    order is event-time order.  Returns the topic dir.
    """
    from polybot_data_etl_spark.catalog import SCHEMAS, table

    events = table(spark, sf_dir, "events").orderBy("ts").collect()
    final = os.path.join(out_dir, "topic")
    os.makedirs(final, exist_ok=True)
    idx = 0
    for i in range(0, len(events), chunk_rows):
        part = events[i : i + chunk_rows]
        scratch = os.path.join(out_dir, f"_chunk_{idx:05d}")
        spark.createDataFrame(part, SCHEMAS["events"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(scratch)
        files = [f for f in sorted(os.listdir(scratch)) if f.endswith(".parquet")]
        os.rename(
            os.path.join(scratch, files[0]),
            os.path.join(final, f"offset_{idx:05d}.parquet"),
        )
        idx += 1
    return final


def replay_events_chunks(
    spark, sf_dir: str, out_dir: str, n_chunks: int = 4
) -> str:
    """Write events as n_chunks single-file parquet drops (ts-ordered
    chunking) into out_dir — the file-source replay fixture for the
    streaming tests (FIXTURES.md §streaming). Returns out_dir.
    """
    from polybot_data_etl_spark.catalog import table

    events = table(spark, sf_dir, "events").orderBy("ts").collect()
    os.makedirs(out_dir, exist_ok=True)
    chunk = max(1, (len(events) + n_chunks - 1) // n_chunks)
    from polybot_data_etl_spark.catalog import SCHEMAS

    for i in range(n_chunks):
        part = events[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        spark.createDataFrame(part, SCHEMAS["events"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/chunk_{i:03d}")
    # Flatten: the file stream wants files in ONE directory.
    final = f"{out_dir}/stream"
    os.makedirs(final, exist_ok=True)
    idx = 0
    for i in range(n_chunks):
        d = f"{out_dir}/chunk_{i:03d}"
        if not os.path.isdir(d):
            continue
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{final}/part_{idx:03d}.parquet")
                idx += 1
    return final
