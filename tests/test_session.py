"""Session posture that must hold across warm passes: the generated-class
cache keeps a query set's classes, and Python workers keep their zip
directories between tasks while still seeing zips added later."""

from __future__ import annotations

import os
import uuid
import zipfile

from pyspark.sql import functions as F

from polybot_data_etl_spark import registry

# perfbench's `interactive` set: its generated classes (~111) exceed
# Spark's default 100-entry cache, so a warm pass under that default
# recompiles about half of them.
INTERACTIVE = (
    "q_agg_q1", "q_ts_markov", "q_join_inner", "q_win_rank",
    "q_stats_ttest", "q_udf_python", "q_text_wordcount", "q_embed_norm",
    "q_scan_project", "q_filter_range", "q_union_all", "q_sort_multi",
    "q_udaf_grouped",
)


def test_warm_pass_compiles_no_class(spark, sf_dir):
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    qs = registry.queries()
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        for name in INTERACTIVE:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(compiles.getCount() - before)
    assert counts[1] == 0, counts


def test_workers_keep_zip_directories(spark):
    @F.udf("string")
    def invalidator(_):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return f"{os.path.basename(fn.__code__.co_filename)}:{fn.__qualname__}"

    (got,) = {r[0] for r in spark.range(4).select(invalidator("id")).collect()}
    assert got == "worker_daemon.py:keep_directory"


def test_zip_added_to_warm_workers_is_importable(spark, tmp_path):
    """A zip added after the workers have run tasks is a new path, so its
    importer reads it fresh."""
    warm = F.udf(lambda x: x + 1, "bigint")
    assert len(spark.range(4).select(warm("id")).collect()) == 4
    mod = f"fresh_{uuid.uuid4().hex}"
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(path))

    @F.udf("bigint")
    def from_zip(x):
        import importlib

        return importlib.import_module(mod).VALUE + x

    rows = spark.range(1, 3).select(from_zip("id")).collect()
    assert sorted(r[0] for r in rows) == [42, 43]


def test_daemon_module_only_where_workers_import_it(monkeypatch, tmp_path):
    """Workers that cannot import the engine would fail every Python UDF
    under its daemon module, so build_session sets it only when the
    checkout is the working directory or on PYTHONPATH."""
    from polybot_data_etl_spark.session import workers_import_engine

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not workers_import_engine()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert workers_import_engine()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert workers_import_engine()
