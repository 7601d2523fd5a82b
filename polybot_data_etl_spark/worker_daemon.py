"""Python worker daemon: ``pyspark.daemon`` whose workers keep their zip
directories between tasks.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and CPython's
``zipimporter.invalidate_caches`` re-reads its archive's whole directory.
A worker holds one zipimporter per package it imported from
``pyspark.zip`` (12 after one row UDF, each re-reading the same 1,328
entries), so every task paid 85-150 ms of CPU before doing any work.

Making that method a no-op is safe: a zip on a worker's path is never
rewritten in place while the worker lives (Spark refuses to re-add a
changed file under the same name), and a zip added later (``addPyFile``)
is a new path, which gets a new importer that reads it fresh.  Directory
finders are still invalidated.  Workers fork from this daemon, so they
inherit the patch.  `session.build_session` names this module only when
the workers can import the package (`workers_import_engine`).
"""

import zipimport

from pyspark import daemon


def keep_directory(self) -> None:
    """zipimporter.invalidate_caches, minus the directory re-read."""


zipimport.zipimporter.invalidate_caches = keep_directory

if __name__ == "__main__":
    daemon.manager()
