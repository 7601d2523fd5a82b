"""SparkSession construction with the engine's standard configuration.

One place to encode the execution posture (SURVEY.md §4): AQE on,
Arrow-accelerated Python interop, UTC session timezone (fixture
timestamps are naive; DuckDB reads them naive — UTC keeps both engines'
date arithmetic identical), and a shuffle-partition count sized for the
active scale factor rather than Spark's default 200.

Two settings keep warm caches warm across repeated queries:

- a generated-class cache that holds the whole registry
  (`CODEGEN_CACHE_ENTRIES`).  Spark's default holds 100 classes; the 13
  perfbench `interactive` queries need about 111, so every warm pass
  re-ran Janino on 59 classes, and a warm full-registry pass at sf0.001
  recompiled 5,698 classes in 134 s (now 112-131 classes, 70-94 s).  The
  conf is static: like spark.driver.memory it takes effect only when
  this call creates the process's first session.
- Python workers forked from `worker_daemon`, whose zip importers keep
  their directories between tasks (85-150 ms of CPU per task before).
  Set only when the workers can import the package (the checkout is the
  working directory or on PYTHONPATH); elsewhere Spark's own daemon
  runs, as a plain `SparkSession`'s does.

Fixture layout is not a session concern: `catalog.table` reads both
timestamp layouts with no session setting, so a plain `SparkSession`
built elsewhere reads the same tables as one built here.

At 100 TB the same code runs with cluster-master URLs and a much larger
`shuffle_partitions` (rule of thumb: ~2-3× total executor cores, with AQE
coalescing handling the long tail); nothing else changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from polybot_data_etl_spark.config import EngineConfig

# spark.sql.codegen.cache.maxEntries.  One full-registry pass (384
# queries to the noop sink, uncapped cache) generates 3,957 distinct
# classes at sf0.001 and 3,939 at sf0.01; this is the next power of two
# above twice the larger count.
CODEGEN_CACHE_ENTRIES = 8192


def workers_import_engine() -> bool:
    """Whether Python workers launched now can import this package: they
    start in this process's working directory with its PYTHONPATH.  A
    daemon module they cannot import would fail every Python UDF."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(os.path.realpath(p) == root for p in paths if p)


def build_session(
    app_name: str = "polybot-data-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``master`` defaults to :class:`EngineConfig`'s (``local[N]`` from
    SPARK_GRAFT_CPUS, else ``local[*]``; a malformed value raises the
    named ValueError).  ``extra_conf`` entries are applied last (they
    win over the defaults above) — JVM-launch settings like
    spark.driver.memory, and static SQL confs like the codegen cache
    size, only take effect if this call actually creates the JVM (first
    session in the process)."""
    if master is None:
        # only the core count: a SPARK_GRAFT_SF_DIR naming a missing
        # directory is the data layer's error, not the session's
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        master = EngineConfig.from_env({"SPARK_GRAFT_CPUS": cpus}).master
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else 32),
        )
        # The fixture dims (region/nation/customer/supplier/part) are all
        # well under this, so Catalyst auto-broadcasts them; at 100 TB only
        # genuinely small dims stay under the threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Let custom Python DataSources (sources/pyds.py) receive pushed
        # filters so they can prune shards at plan time — the Python-source
        # analog of parquet partition pruning. Off by default in Spark 4.1;
        # scoped to Python sources only, no effect on file scans.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Scan split sizing (r12, guide §2/§6): Spark picks
        # maxSplitBytes = min(maxPartitionBytes,
        #                     max(openCostInBytes, totalBytes/minPartitionNum)),
        # so the bytes-per-core term already adapts split size to input
        # scale — EXCEPT that the 4 MB openCostInBytes default floors it.
        # At 100 TB the floor never binds (bytes-per-core ≫ 4 MB, splits
        # stay 128 MB+); at sub-GB inputs it serializes every scan to
        # ⌈size/4 MB⌉ tasks (measured: 3-task lineitem scans at sf0.1 on
        # 32 cores; lowering the floor to 128 KB → 32-task scans, −25%
        # on a 20-query light-tail sum, best-of-3).  128 KB keeps the
        # small-file packing charge meaningful while letting the
        # scale-adaptive term own split sizing.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # Plan-construction overhead (r13, guide §4 driver boundary):
        # PySpark 4 wraps every DataFrame/Column API call in a
        # call-site-capture decorator that costs ~4 extra Py4J
        # round-trips per call (getActiveSession + conf.get + JVM
        # origin set/clear) plus a Python stack walk, purely to enrich
        # error messages with user line numbers.  Across this engine's
        # 384 plan builders that is ~20-25% of total plan-build time
        # (measured: 10 heaviest builders 6.94 s → 5.04 s warm).  The
        # trade is error-message context only — never results — and the
        # cost is per-API-call driver overhead at ANY cluster scale.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Warm caches (module docstring); the cache size is a static conf.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if workers_import_engine():
        builder = builder.config(
            "spark.python.daemon.module", "polybot_data_etl_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
