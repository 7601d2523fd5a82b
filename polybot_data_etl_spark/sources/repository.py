"""Repository-pattern persistence layer: keyed upsert (SCD-1 merge),
append, and dynamic partition-overwrite loads over parquet tables.

Reference provenance: the reference persisted typed models through a
repository layer [REC src/etl/.DS_Store:4368 models/, 4824 repository/]
fed by batch DAGs — i.e. the load step of its ETL was idempotent keyed
writes, which is exactly the surface here.

Managed-table commit protocol (a minimal Delta/Iceberg-shaped layout):
a table directory holds immutable version directories ``v-<hex>/`` plus
a ``_MANIFEST`` file naming the current one.  A version directory is
self-contained: its BASE files (the table as of its last full write)
and, after keyed merges, a ``_delta/`` directory holding one
``__seq=<n>/`` directory per merged batch (newest = highest ``n``) and
a ``_KEY`` file naming their merge key.  A merge writes only its batch,
as the next ``__seq``, and hard-links (``os.link``) every file of the
previous version beside it, so it writes |batch| rows while every older
version stays byte-for-byte intact.  A full write — ``create_table``,
compaction, clustering, SCD-2, or a merge that FOLDS — writes the whole
resolved table and no ``_delta``.  A merge folds when the current
version's delta bytes reach ``FOLD_RATIO`` × its base bytes, when the
batch changes the schema, or when its key is not the deltas' key.
Every keyed write is one write job that checks its batch's keys: the
window picking the newest row per key (``_newest``) fails it on a
repeated key.  Every mutation fills a new version directory (removed
if its write fails) through ``_publish``, then commits by
atomically replacing the manifest (``os.replace`` — an atomic rename
on POSIX).  Readers resolve the manifest once and read an immutable
directory, so a reader can never observe a half-written table; a reader
that resolved the previous version keeps reading its (still-present)
files until ``vacuum`` reclaims them.  Writers and ``vacuum`` serialize
through an advisory ``_LOCK`` mutex (``table_lock`` — exclusive-create
with stale-lock breaking), so concurrent mutations can't race the
manifest swap and ``vacuum`` never deletes a version a writer is still
filling.  This is the same reader/writer isolation a transactional
table format provides; a production deployment on an object store swaps
in Iceberg/Delta/Hudi (or their lock services) without changing any
plan shape here.

Scale posture: a merge that does not fold costs |batch| — one write
job, which shuffles the batch on the key and checks its keys on the
way — whatever the table size.  A version with deltas reads as base ⟕̸
(delta keys) ∪ (newest delta row per key): an equi anti-join (broadcast
while the delta keys are small) plus one shuffle of the delta rows on
the key.  The fold rule caps the deltas at a tenth of the base's
bytes, so a read touches at most 1.1× a folded table's bytes, and a
fold — one full rewrite, the cost of a merge that rewrites the table —
comes once the batches merged since the last one reach that tenth
(every fourth merge of 5 000 rows into 150 000).  The cap is low on
purpose.  A fold's window stays small, and folds come often enough that
the JVM keeps their code compiled: measured on a 4-core box, folding at
the base's bytes made a warm fold cost 1.3–1.6× a full-rewrite merge
and the first fold in a process 2.5–3.5×, while at a tenth the fifth
and later folds in a process cost 0.9–1.1× a full-rewrite merge.
Partition-overwrite writes only the
partitions present in the incoming batch
(`partitionOverwriteMode=dynamic`), so a daily load touches one date
partition of a 100 TB table instead of rewriting it.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from functools import reduce
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST"
LOG = "_LOG"
SPEC = "_SPEC"
LOCK = "_LOCK"
DELTA = "_delta"
_KEY = "_KEY"
_SEQ = "__seq"
_VERSION_PREFIX = "v-"
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"

# A merge folds once the current version's delta bytes reach this
# multiple of its base bytes (read at call time).
FOLD_RATIO = 0.1


def _new_version() -> str:
    return f"{_VERSION_PREFIX}{uuid.uuid4().hex[:12]}"


@contextlib.contextmanager
def table_lock(
    path: str, timeout_s: float = 60.0, stale_s: float = 600.0
):
    """Advisory writer mutex for a managed table: O_CREAT|O_EXCL on a
    ``_LOCK`` file (atomic on POSIX filesystems), so two writers
    serialize their write-new-version + manifest-swap sequences instead
    of racing the swap (last-swap-wins would silently drop the loser's
    commit).  Readers never take the lock — snapshot isolation already
    protects them.

    A lock older than ``stale_s`` is presumed orphaned (writer crashed
    between acquire and release) and is broken.  On an object store,
    where exclusive-create isn't available, a production deployment
    replaces this with the table format's lock service / conditional
    puts — the mutation call sites are already funneled through here.
    """
    lock_path = os.path.join(path, LOCK)
    deadline = time.time() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock_path)
            except OSError:
                continue  # holder released between exists-check and stat
            if age > stale_s:
                with contextlib.suppress(OSError):
                    os.unlink(lock_path)
                continue
            if time.time() > deadline:
                raise TimeoutError(
                    f"writer lock on {path} held for {age:.0f}s; "
                    f"gave up after {timeout_s}s"
                )
            time.sleep(0.05)
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_path)


def _commit(path: str, version: str) -> None:
    """Atomically point the manifest at ``version`` (os.replace is an
    atomic rename on POSIX — readers see either the old or the new
    manifest, never a partial write)."""
    tmp = os.path.join(path, f".{MANIFEST}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(version + "\n")
        f.flush()
        os.fsync(f.fileno())
    # Commit-log append BEFORE the swap: the log is advisory history
    # metadata (time travel / audit), so a crash between append and
    # swap leaves a logged-but-never-current version, which readers of
    # the log must tolerate — the manifest remains the single source of
    # truth for "current".
    with open(os.path.join(path, LOG), "a") as f:
        f.write(version + "\n")
    os.replace(tmp, os.path.join(path, MANIFEST))


def current_version(path: str) -> str:
    """Name of the committed version directory."""
    with open(os.path.join(path, MANIFEST)) as f:
        return f.read().strip()


def is_managed(path: str) -> bool:
    return os.path.exists(os.path.join(path, MANIFEST))


def table_spec(path: str) -> dict:
    """Table-level spec (currently: the partition columns).  Stored once
    at create time in ``_SPEC`` and honored by every later rewrite, so a
    table's physical layout survives merges/compaction — the same role
    as a table format's partition spec."""
    spec_path = os.path.join(path, SPEC)
    if not os.path.exists(spec_path):
        return {"partition_by": []}
    with open(spec_path) as f:
        return json.load(f)


def _write(df: DataFrame, directory: str, part: list[str]) -> None:
    writer = df.write
    if part:
        writer = writer.partitionBy(*part)
    writer.parquet(directory)


def _data_files(root: str) -> list[str]:
    """Parquet data files under ``root``, in hive subdirectories too,
    but not in a version's ``_delta``."""
    found = []
    for d, subdirs, files in os.walk(root):
        subdirs[:] = sorted(x for x in subdirs if x != DELTA)
        found += [
            os.path.join(d, f) for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return found


def _bytes(files: list[str]) -> int:
    return sum(map(os.path.getsize, files))


def _scan(spark: SparkSession, directory: str, files: list[str]) -> DataFrame:
    """Read ``directory`` with the Spark schema its writer recorded in
    the footer of ``files[0]`` (Spark infers the hive partition columns
    from the directory names), so the read starts no schema-inference
    job.  Files a non-Spark writer made record no schema and are read
    with inference."""
    meta = (pq.read_metadata(files[0]).metadata or {}) if files else {}
    if _SPARK_SCHEMA not in meta:
        return spark.read.parquet(directory)
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA]))
    return spark.read.schema(schema).parquet(directory)


def _delta_key(vdir: str) -> list[str] | None:
    """The merge key of ``vdir``'s deltas; None when it has none."""
    try:
        with open(os.path.join(vdir, DELTA, _KEY)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _deltas(spark: SparkSession, vdir: str, schema: StructType) -> DataFrame:
    """Every delta row of ``vdir``, with its ``__seq`` taken from the
    directory names; ``schema`` (the base's) pins the partition
    columns' types."""
    return spark.read.schema(schema).parquet(os.path.join(vdir, DELTA))


def _newest(delta: DataFrame, key: list[str]) -> DataFrame:
    """The newest ``delta`` row per key, by ``__seq`` (dropped), plus
    every row with a NULL key column: keys match with ``=``, so such a
    row never replaces another.  The newest ``__seq`` must be key-unique
    (NULL keys counting as one value); the window fails the job that
    evaluates it if it is not, so a write of the result checks exactly
    the rows it writes."""
    w = Window.partitionBy(*key)
    null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in key])
    return (
        delta.withColumn("__newest", F.col(_SEQ) == F.max(_SEQ).over(w))
        .withColumn("__repeats", F.count_if("__newest").over(w))
        .where(
            F.when(
                F.col("__repeats") > 1,
                F.raise_error(F.lit(f"a delta repeats a key of {key}")),
            ).otherwise(F.col("__newest") | null_key)
        )
        .drop(_SEQ, "__newest", "__repeats")
    )


def _resolve(base: DataFrame, delta: DataFrame, key: list[str]) -> DataFrame:
    """base ⟕̸ (delta keys) ∪ ``_newest(delta)``.  A base row with a
    NULL key column is never replaced.  A delta column the base lacks
    reads NULL in the base's rows."""
    return base.join(delta.select(*key), key, "left_anti").unionByName(
        _newest(delta, key), allowMissingColumns=True
    )


def _read_version(spark: SparkSession, vdir: str) -> DataFrame:
    """The table a version directory holds: its base, or, when it has
    deltas, the base resolved against them (``_resolve``)."""
    base = _scan(spark, vdir, _data_files(vdir))
    key = _delta_key(vdir)
    if key is None:
        return base
    return _resolve(base, _deltas(spark, vdir, base.schema), key)


def _seq_dirs(vdir: str) -> list[str]:
    ddir = os.path.join(vdir, DELTA)
    return sorted(
        e for e in (os.listdir(ddir) if os.path.isdir(ddir) else [])
        if e.startswith(f"{_SEQ}=")
    )


def _link_version(src: str, dst: str) -> None:
    """Hard-link every file of version directory ``src`` into ``dst``,
    mirroring its subdirectories (files are never rewritten in place,
    so the two versions share inodes safely)."""
    for d, _, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(d, src))
        os.makedirs(out, exist_ok=True)
        for f in files:
            os.link(os.path.join(d, f), os.path.join(out, f))


def _publish(path: str, df: DataFrame) -> None:
    """Write ``df`` as a new version of the table at ``path``, honoring
    its partition spec, and commit it.  A failed write removes the
    version directory, so it leaves nothing behind."""
    version = _new_version()
    vdir = os.path.join(path, version)
    try:
        _write(df, vdir, table_spec(path).get("partition_by", []))
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    _commit(path, version)


def create_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Initialize a managed table at ``path`` from ``df`` (version 1).

    ``partition_by`` pins the physical layout for the table's lifetime:
    every version directory is hive-partitioned on these columns, so
    scans with partition-key predicates prune at the directory level
    (PartitionFilters) in every snapshot, including time-travel reads."""
    os.makedirs(path, exist_ok=True)
    if partition_by:
        tmp = os.path.join(path, f".{SPEC}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump({"partition_by": list(partition_by)}, f)
        os.replace(tmp, os.path.join(path, SPEC))
    _publish(path, df)


def list_versions(path: str) -> list[str]:
    """Commit history, oldest first, restricted to versions still on
    disk (``vacuum`` reclaims old ones out of the retention window).
    The last entry is the current version."""
    log_path = os.path.join(path, LOG)
    if not os.path.exists(log_path):
        return [current_version(path)]
    with open(log_path) as f:
        logged = [ln.strip() for ln in f if ln.strip()]
    return [v for v in logged if os.path.isdir(os.path.join(path, v))]


def read_table(
    spark: SparkSession, path: str, version: str | int | None = None
) -> DataFrame:
    """DataFrame over the committed version (snapshot isolation: the
    resolved version directory is immutable, later commits don't touch
    it).  A version with deltas reads as base ⟕̸ (delta keys) ∪ (newest
    delta row per key); one without reads its files as they are.  The
    schema comes from a data file's footer, so resolving a table starts
    no Spark job.

    Time travel: ``version`` pins a snapshot — a version name from
    ``list_versions`` or a negative index into it (``-2`` = the commit
    before current), like a table format's VERSION AS OF. Raises
    KeyError for a vacuumed/unknown version."""
    if version is None:
        v = current_version(path)
    else:
        versions = list_versions(path)
        if isinstance(version, int):
            v = versions[version]
        elif version in versions:
            v = version
        else:
            raise KeyError(
                f"version {version!r} not available (vacuumed or never "
                f"committed); on disk: {versions}"
            )
    return _read_version(spark, os.path.join(path, v))


def vacuum(path: str) -> list[str]:
    """Delete all non-current version directories (breaks readers still
    pinned to them — run only after in-flight reads drain, like any
    table format's retention window). Returns what was removed.  Holds
    the writer lock, so a version a writer is still filling (or linking
    from) is never deleted under it."""
    with table_lock(path):
        keep = current_version(path)
        removed = []
        for entry in os.listdir(path):
            full = os.path.join(path, entry)
            if entry.startswith(_VERSION_PREFIX) and entry != keep and os.path.isdir(full):
                shutil.rmtree(full)
                removed.append(entry)
    return removed


def _migrate_legacy(path: str) -> None:
    """One-time adoption of a plain ``df.write.parquet(path)`` directory
    into the managed layout: move its files into a version dir, commit.
    (Not atomic for readers of the LEGACY layout — migration is a
    stop-the-world step, after which all mutations are atomic.)"""
    version = _new_version()
    vdir = os.path.join(path, version)
    os.makedirs(vdir)
    for entry in os.listdir(path):
        if entry == version or entry == MANIFEST or entry.startswith("."):
            continue
        os.rename(os.path.join(path, entry), os.path.join(vdir, entry))
    _commit(path, version)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: list[str],
    allow_new_columns: bool = False,
) -> None:
    """SCD-1 keyed merge into the managed table at ``path``: rows whose
    key appears in ``updates`` are replaced, new keys are inserted,
    everything else is carried over unchanged.  Idempotent: applying the
    same update batch twice equals once.  A legacy plain-parquet
    directory is migrated into the managed layout first.

    Schema evolution: with ``allow_new_columns=True`` the update batch
    may carry columns the table doesn't have yet (ADD COLUMN) — the new
    columns land in the table schema and surviving rows read NULL for
    them, exactly Delta's ``mergeSchema`` semantics.  The batch must
    still contain every existing table column (dropping or renaming is
    a different, destructive operation and stays explicit); without the
    flag, any schema difference raises.

    Merge-on-read: the batch is written once, as the next
    ``_delta/__seq=<n>`` of a new version directory, through the window
    that resolves deltas (``_newest``): it fails the write on a repeated
    key, so the check sees exactly the rows written.  A failed write
    removes the directory and raises before any commit (a repeated key
    as a ValueError counting rows and distinct keys).  Every file of the
    current version is then hard-linked beside the delta and the
    manifest swapped, so concurrent ``read_table`` callers see the old
    version until the commit instant and the new one after — never a
    mix.  ``read_table`` resolves target ⟕̸ (delta keys) ∪ (newest delta
    row per key), the same left-anti + union a full rewrite would write.

    Fold: the merge writes the full merged table instead of a delta
    when the current version's delta bytes reach ``FOLD_RATIO`` × its
    base bytes, when the batch adds a column or changes a column's
    type, or when ``key`` is not the key of the version's deltas.  The
    fold is one write job too, with the batch as the newest ``__seq``.
    """
    _merge(spark, path, key, updates, allow_new_columns)


def _check_key_unique(df: DataFrame, key: list[str], what: str) -> None:
    """Raise unless ``df`` has one row per ``key`` — rows and distinct
    key structs counted in ONE aggregate pass (a struct is never NULL,
    so NULL keys count as one distinct value, as ``distinct()`` does).
    Keyed writes check their keys inside the write job (``_newest``);
    this runs only after such a write failed, to name the counts."""
    n_rows, n_keys = df.agg(
        F.count(F.lit(1)), F.count_distinct(F.struct(*key))
    ).first()
    if n_rows != n_keys:
        raise ValueError(
            f"{what} {key}: {n_rows} rows, {n_keys} distinct keys"
        )


def _merge(
    spark: SparkSession,
    path: str,
    key: list[str],
    updates: DataFrame | Callable[[DataFrame], DataFrame],
    allow_new_columns: bool = False,
    what: str = "update batch must be key-unique on",
) -> None:
    """The SCD-1 merge of :func:`merge_upsert`.  ``updates`` may be a
    function of the target, called on the version read UNDER the writer
    lock — a batch derived from the target (``refresh_rollup``) then
    cannot lose a commit that landed before the lock was taken.  Only
    that caller builds the target: its plan lists the version's delta
    directories and analyses the resolving window, about 0.1 s a merge.
    ``what`` opens the error raised for a batch that is not key-unique."""
    key = list(key)
    if not is_managed(path):
        _migrate_legacy(path)
    with table_lock(path):
        prev = os.path.join(path, current_version(path))
        if callable(updates):
            updates = updates(_read_version(spark, prev))
        # The base's schema is the table's: a schema change folds, so
        # every delta shares it.
        base_files = _data_files(prev)
        table = _scan(spark, prev, base_files)
        missing = set(table.columns) - set(updates.columns)
        added = set(updates.columns) - set(table.columns)
        if missing:
            raise ValueError(
                f"update batch lacks table columns {sorted(missing)}; "
                "upserts must provide every existing column"
            )
        if added and not allow_new_columns:
            raise ValueError(
                f"update batch adds columns {sorted(added)}; pass "
                "allow_new_columns=True to evolve the table schema"
            )
        part = table_spec(path).get("partition_by", [])
        types = dict(table.dtypes)
        fold = (
            added
            or any(types.get(c, t) != t for c, t in updates.dtypes)
            or _delta_key(prev) not in (None, key)
            or _bytes(_data_files(os.path.join(prev, DELTA)))
            >= FOLD_RATIO * _bytes(base_files)
        )
        seqs = _seq_dirs(prev)
        seq = max((int(d.split("=", 1)[1]) for d in seqs), default=0) + 1
        batch = updates.withColumn(_SEQ, F.lit(seq))
        version = _new_version()
        vdir = os.path.join(path, version)
        try:
            if fold:
                _fold(spark, path, prev, table, batch, key)
            else:
                seq_dir = os.path.join(vdir, DELTA, f"{_SEQ}={seq}")
                _write(_newest(batch, key), seq_dir, part)
                # An empty batch under a partition spec writes no file.
                files = _data_files(seq_dir)
                if not files:
                    shutil.rmtree(os.path.join(vdir, DELTA))
                _link_version(prev, vdir)
                key_file = os.path.join(vdir, DELTA, _KEY)
                if files and not os.path.exists(key_file):
                    with open(key_file, "w") as f:
                        json.dump(key, f)
                _commit(path, version)
        except Exception:
            # (_publish has removed a failed fold's directory)
            shutil.rmtree(vdir, ignore_errors=True)
            _check_key_unique(updates, key, what)  # names the counts
            raise


def _fold(
    spark: SparkSession,
    path: str,
    prev: str,
    table: DataFrame,
    batch: DataFrame,
    key: list[str],
) -> None:
    """Publish ``prev`` merged with ``batch`` (the newest delta, with
    its ``__seq``) as a full version, in one write job whose window
    checks the batch's keys.  Under a new key the old deltas resolve
    first, with their own key."""
    if _delta_key(prev) not in (None, key):
        table = _read_version(spark, prev)
    elif _seq_dirs(prev):
        batch = _deltas(spark, prev, table.schema).unionByName(
            batch, allowMissingColumns=True
        )
    _publish(path, _resolve(table, batch, key))


def overwrite_partitions(
    spark: SparkSession, df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replaces ONLY the partitions present
    in ``df``, leaving all other partitions of the table untouched —
    the incremental daily-load primitive."""
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


# --- SCD-2 (history-keeping) dimension merge ------------------------------

_SCD2_COLS = ("valid_from", "valid_to", "is_current")


def create_scd2_table(
    df: DataFrame, path: str, effective_ts: str
) -> None:
    """Initialize a type-2 slowly-changing dimension: every input row
    becomes the open (current) version, valid from ``effective_ts``."""
    initial = (
        df.withColumn("valid_from", F.lit(effective_ts).cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    create_table(initial, path)


def scd2_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: list[str],
    effective_ts: str,
) -> None:
    """Type-2 keyed merge into the managed dimension at ``path``: a key
    whose attributes changed gets its open row closed (``valid_to`` =
    ``effective_ts``) and a new open row inserted; unchanged keys are
    untouched (so re-applying the same batch is a no-op — idempotent);
    unseen keys insert as new open rows.  History rows are carried over
    unchanged, giving as-of queries the full version chain.

    Plan: one full outer join of the CURRENT slice against the update
    batch on the key (both sides one row per key — the current slice by
    the SCD-2 invariant, the batch by ``_newest``'s window, which fails
    the write job on a repeated key, as in ``merge_upsert``), then three
    narrow projections unioned with the history slice.  Everything
    shuffles on the dimension key once; at 100 TB dims this is a
    standard keyed merge, and the commit is the same atomic manifest
    swap as ``merge_upsert``.
    """
    # read the target UNDER the lock: a commit landing between read
    # and swap would otherwise be silently dropped
    with table_lock(path):
        target = read_table(spark, path)
        attrs = [c for c in updates.columns if c not in key]
        eff = F.lit(effective_ts).cast("timestamp")

        cur = target.filter(F.col("is_current"))
        hist = target.filter(~F.col("is_current"))
        # Presence markers: never-null columns on each side, so
        # outer-join row provenance doesn't depend on attr/key
        # nullability.
        c = cur.withColumn("__c", F.lit(True)).alias("c")
        batch = _newest(updates.withColumn(_SEQ, F.lit(0)), key)
        u = batch.withColumn("__u", F.lit(True)).alias("u")
        cond = F.expr(" AND ".join(f"c.{k} <=> u.{k}" for k in key))
        joined = c.join(u, cond, "full_outer")

        differs = F.lit(False)
        for a in attrs:
            differs = differs | ~F.col(f"c.{a}").eqNullSafe(
                F.col(f"u.{a}")
            )
        has_c = F.col("c.__c").isNotNull()
        has_u = F.col("u.__u").isNotNull()

        cur_cols = [F.col(f"c.{col}").alias(col) for col in cur.columns]
        # 1) current rows that stay open: no update, or update equal
        kept = joined.filter(has_c & (~has_u | ~differs)).select(*cur_cols)
        # 2) current rows closed by a differing update
        closed = joined.filter(has_c & has_u & differs).select(
            *[F.col(f"c.{col}").alias(col) for col in cur.columns
              if col not in ("valid_to", "is_current")],
            eff.alias("valid_to"),
            F.lit(False).alias("is_current"),
        ).select(*[F.col(col) for col in cur.columns])
        # 3) new open rows: new key, or differing update
        fresh = joined.filter(has_u & (~has_c | differs)).select(
            *[F.col(f"u.{k}").alias(k) for k in key],
            *[F.col(f"u.{a}").alias(a) for a in attrs],
            eff.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        ).select(*[F.col(col) for col in cur.columns])

        merged = (
            hist.unionByName(kept).unionByName(closed).unionByName(fresh)
        )
        try:
            _publish(path, merged)
        except Exception:
            _check_key_unique(
                updates, key, "update batch must be key-unique on"
            )
            raise


def compact_table(
    spark: SparkSession, path: str, target_file_rows: int = 1_000_000
) -> int:
    """Small-file compaction: rewrite the current version, resolved
    (its deltas folded in, as ``read_table`` reads it), into
    ``ceil(rows / target_file_rows)`` evenly-sized files and commit it
    as a new version with no deltas (readers pinned to the old snapshot
    are untouched; ``vacuum`` reclaims it later).

    The small-files problem is THE silent killer of a 100 TB lake —
    every incremental ``merge_upsert``/stream batch leaves another
    file-per-partition sliver, and a million 1 MB files turn a scan
    into a metadata stampede (one task + one open per file).  Périodic
    compaction restores full-size row groups, so scans get back their
    long sequential reads and min/max pruning spans real data.
    ``repartition(n)`` (round-robin shuffle) rather than ``coalesce``:
    coalesce merges unevenly and can leave one giant straggler file;
    compaction exists precisely to make file sizes uniform.

    Returns the number of files written."""
    import math

    with table_lock(path):
        df = read_table(spark, path)
        n_files = max(1, math.ceil(df.count() / target_file_rows))
        part = table_spec(path).get("partition_by", [])
        # partitioned table: compact WITHIN partitions (repartition on
        # the partition key so each hive directory gets one full file)
        _publish(
            path, df.repartition(*part) if part else df.repartition(n_files)
        )
    return n_files


def _spread16(x):
    """Interleave-ready bit spread: 16 significant bits of ``x`` spaced
    out to every other bit of a 32-bit lane (classic Morton magic
    masks), all in JVM bitwise ops — no UDF."""
    x = x.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def cluster_table(
    spark: SparkSession, path: str, cols: list[str], n_files: int
) -> None:
    """Z-order clustered rewrite: sort the current version along the
    Morton (bit-interleaved) curve of two columns and commit the
    re-laid-out copy as a new version.

    Linear sort on one column gives perfect min/max file pruning for
    that column and none for the second; the Z-curve shares the bits,
    so a scan filtered on EITHER column (or a box on both) overlaps
    only the files whose Z-range crosses the query box — the same
    data-skipping story as Delta's OPTIMIZE ZORDER BY.  Mechanics:
    each column is affinely bucketed to 16 bits via its own min/max
    (one metadata-scale agg), the buckets are interleaved with Morton
    magic-mask shifts (pure JVM bitwise ops), and the rewrite is one
    ``repartitionByRange`` + ``sortWithinPartitions`` on the Z value —
    a single range shuffle, identical cost to a plain sorted write.

    Timestamp columns are clustered on their epoch value; the Z column
    itself is dropped before write (it is derivable, not data).

    Hive-partitioned tables are refused: a global Z-range repartition
    followed by a partitionBy write would scatter every range partition
    across every hive directory (file-count explosion) and the layout
    win belongs WITHIN each partition — the production move is
    per-partition clustering (Delta's OPTIMIZE ... WHERE partition
    predicate), which this minimal layer doesn't implement."""
    if len(cols) != 2:
        raise ValueError("cluster_table interleaves exactly 2 columns")
    part = table_spec(path).get("partition_by", [])
    if part:
        raise ValueError(
            f"cluster_table does not support hive-partitioned tables "
            f"(partition spec {part}); cluster within partitions via a "
            "per-partition rewrite instead"
        )
    with table_lock(path):
        df = read_table(spark, path)

        def _as_long(c: str):
            dt = dict(df.dtypes)[c]
            col = F.col(c)
            if dt.startswith("timestamp"):
                return F.unix_timestamp(col)
            return col.cast("long")

        stats = df.agg(
            *(F.min(_as_long(c)).alias(f"mn_{i}") for i, c in enumerate(cols)),
            *(F.max(_as_long(c)).alias(f"mx_{i}") for i, c in enumerate(cols)),
        ).first()

        def _bucket(c: str, i: int):
            mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
            span = max(1, mx - mn)
            return F.least(
                F.lit(65535),
                ((_as_long(c) - F.lit(mn)) * 65535 / F.lit(span)).cast("long"),
            )

        z = _spread16(_bucket(cols[0], 0)).bitwiseOR(
            F.shiftleft(_spread16(_bucket(cols[1], 1)), 1)
        )
        _publish(
            path,
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z"),
        )


def refresh_rollup(
    spark: SparkSession,
    path: str,
    delta_agg: DataFrame,
    key: list[str],
    measures: list[str],
) -> None:
    """Incremental (continuous-aggregate) rollup maintenance: fold a
    pre-aggregated DELTA batch into the stored rollup at ``path``
    without rescanning raw history — existing keys get their additive
    measures summed, new keys are inserted.

    This is the materialized-view refresh discipline every 100 TB
    pipeline runs on: the raw event lake is touched only for the new
    partition (the caller aggregates it to the rollup grain), and the
    refresh cost is |delta| + |affected rollup keys| — history-size
    independent.  Only works for additive/mergeable measures (sums,
    counts, bitmap/HLL sketch columns); avg must be stored as
    sum+count, min/max are mergeable too via greatest/least — the same
    decomposition rule as salted_agg and the sketch family.

    NOT idempotent by design (applying a delta twice double-counts);
    exactly-once application is the commit protocol's job — pair with
    the manifest-swap versioning (each refresh lands as one committed
    version) and an upstream batch id when replays are possible.
    """

    def folded(target: DataFrame) -> DataFrame:
        t, d = target.alias("t"), delta_agg.alias("d")
        refreshed = t.join(d, key, "inner").select(
            *[F.col(f"t.{k}").alias(k) for k in key],
            *[
                (F.col(f"t.{m}") + F.col(f"d.{m}")).alias(m)
                for m in measures
            ],
        )
        new_keys = d.join(t.select(*key), key, "left_anti").select(
            *key, *measures
        )
        return refreshed.unionByName(new_keys)

    # A key-unique target makes the folded batch key-unique exactly when
    # ``delta_agg`` is, so the key check in _merge's write job enforces
    # the grain.
    _merge(
        spark, path, key, folded,
        what="delta batch must be pre-aggregated to the rollup grain",
    )
