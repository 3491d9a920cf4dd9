"""Session defaults: machine-derived resources and the warm-fork Python
worker daemon (``dedupe_spark._daemon``).

The daemon tests run on the shared session: every task must get its own
freshly forked worker that already holds pandas and the kernel modules,
and the pre-imported numeric libraries must keep working after the fork.
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor, TimeoutError

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from dedupe_spark import session

PARTS = 8


# -- box_resources (no JVM) ---------------------------------------------------


@pytest.fixture
def box(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    meminfo = tmp_path / "meminfo"
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))
    return meminfo


def test_box_resources_from_affinity_and_meminfo(box):
    box.write_text("MemFree:  1000 kB\nMemTotal:       15995116 kB\n")
    # 15995116 kB / 2 = 7.6 GiB -> whole GiB
    assert session.box_resources() == (3, "7g")


def test_box_resources_floor_one_gib(box):
    box.write_text("MemTotal:  1500000 kB\n")
    assert session.box_resources() == (3, "1g")


def test_box_resources_env_wins(box, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    # MEMINFO points at a missing file: it must not be read
    assert session.box_resources() == (6, "3g")


def test_box_resources_without_affinity_or_meminfo(box, monkeypatch):
    # macOS / Windows: no sched_getaffinity, no /proc/meminfo -> all CPUs
    # and Spark's own driver-memory default
    monkeypatch.delattr(session.os, "sched_getaffinity")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 5)
    assert session.box_resources() == (5, None)


def test_worker_daemon_only_for_local_masters():
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        conf = session.worker_daemon_conf(master)
        assert conf["spark.python.daemon.module"] == "dedupe_spark._daemon"
        assert conf["spark.executorEnv.PYTHONPATH"] == session.PACKAGE_ROOT
    # remote executors cannot see the driver's path: Spark's default daemon
    for master in ("cluster", "yarn", "spark://host:7077", "k8s://https://api"):
        assert session.worker_daemon_conf(master) == {}


# -- Python worker daemon -----------------------------------------------------


def _collect_within(spark, run, seconds=240):
    """run() on a job group that is cancelled if it takes over `seconds`:
    a forked worker deadlocked in a native thread pool fails the test
    instead of hanging the suite."""
    sc = spark.sparkContext
    group = f"test_session-{uuid.uuid4().hex}"

    def job():
        sc.setJobGroup(group, "daemon fork-safety", interruptOnCancel=True)
        return run()

    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(job)
        try:
            return fut.result(timeout=seconds)
        except TimeoutError:
            sc.cancelJobGroup(group)
            pytest.fail(f"tasks did not finish within {seconds} s")


def test_workers_start_with_kernel_modules_imported(spark):
    def missing(_):
        import sys

        wanted = ("pandas", "pyarrow", "dedupe_spark.functions.normkernel")
        return ",".join(m for m in wanted if m not in sys.modules)

    probe = F.udf(missing, StringType())
    got = (
        spark.range(PARTS, numPartitions=PARTS)
        .select(probe("id").alias("missing"))
        .distinct()
        .collect()
    )
    assert [r.missing for r in got] == [""]


def test_workers_start_without_cached_zip_finders(spark):
    # Spark's per-task importlib.invalidate_caches() makes every cached
    # zipimporter re-read its archive directory; the daemon forks with an
    # empty finder cache (at most one finder per archive may come back)
    def zip_finders(_):
        import sys
        import zipimport

        cached = sys.path_importer_cache.values()
        return sum(isinstance(f, zipimport.zipimporter) for f in cached)

    probe = F.udf(zip_finders, LongType())
    got = spark.range(PARTS, numPartitions=PARTS).select(probe("id").alias("n"))
    assert max(r.n for r in got.collect()) <= 3


def test_one_fresh_worker_process_per_task(spark):
    def pid(_):
        import os

        return os.getpid()

    probe = F.udf(pid, LongType())
    pids = [
        r.pid
        for r in spark.range(PARTS, numPartitions=PARTS)
        .select(probe("id").alias("pid"))
        .collect()
    ]
    assert len(pids) == PARTS
    assert len(set(pids)) == PARTS


def test_numeric_libraries_work_in_forked_workers(spark):
    n = 512
    base = (np.arange(n * n, dtype=np.float64) % 7).reshape(n, n)
    # small integers: every product and partial sum is exact in float64,
    # whatever order the BLAS threads add them in
    want_matmul = float((base @ base).sum())
    want_sum = (10**6 - 1) * 10**6 // 2

    def compute(_):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        a = (np.arange(n * n, dtype=np.float64) % 7).reshape(n, n)
        total = pc.sum(pa.array(np.arange(10**6, dtype=np.int64))).as_py()
        yield float((a @ a).sum()), total

    rows = _collect_within(
        spark,
        lambda: spark.sparkContext.parallelize(range(PARTS), PARTS)
        .mapPartitions(compute)
        .collect(),
    )
    assert rows == [(want_matmul, want_sum)] * PARTS
