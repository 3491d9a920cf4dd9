"""Python worker daemon that forks every worker with its imports done.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
on local masters (``session.worker_daemon_conf``). Spark starts it once
per executor and forks one process per task from it
(``spark.python.worker.reuse`` stays false). A fresh worker used to pay
~0.5-0.9 s importing pandas/pyarrow/numpy and the kernel modules; here
they are imported once, before any fork, and every worker inherits them.

Before the fork the daemon only imports and empties the import finder
cache: no numpy/pyarrow compute and no thread pools, so the forked
children stay fork-safe. Every child inherits the same global
``numpy.random`` state, so worker code must draw from seeded generators.
A module whose functions run inside workers belongs in the import list
below.
"""

import sys

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.pandas_compat  # noqa: F401
from pyspark import daemon

import dedupe_spark.functions.features  # noqa: F401
import dedupe_spark.functions.normkernel  # noqa: F401
import dedupe_spark.functions.strings  # noqa: F401
import dedupe_spark.model  # noqa: F401
import dedupe_spark.sources.warc  # noqa: F401

if __name__ == "__main__":
    # Spark calls importlib.invalidate_caches() at the start of every task.
    # On Python 3.11 each cached zipimporter then re-reads its whole archive
    # directory (pyspark.zip, py4j and the spark-core jar are on the
    # workers' PYTHONPATH): ~0.12 s a task with the 16 finders the imports
    # above leave. Children start with an empty finder cache instead; the
    # finders they need are rebuilt from zipimport's directory cache.
    sys.path_importer_cache.clear()
    daemon.manager()
