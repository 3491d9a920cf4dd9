"""SparkSession builders tuned for the engine.

Defaults target the sandbox (local[N], single JVM) but every knob is the one
you would set on a real multi-executor cluster: AQE on (runtime re-planning +
skew-join splitting), Arrow on (vectorized pandas UDF transfer), shuffle
partition count sized to the parallelism level, broadcast threshold for small
dimension/model tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size for the distance/scoring pandas UDFs: large enough to
# amortize the Python call round-trip (measured: 30k beats 10k by ~15% on
# the scoring stage at width 8 AND 32), small enough that a batch of
# (left, right) string pairs plus the DP scratch stays ~100-200 MB per
# worker — comfortable headroom on standard 4-8 GB/core executors.
ARROW_BATCH = 30_000

MEMINFO = "/proc/meminfo"

# where the driver imported this package from: a checkout, an install or
# the --py-files zip (session.py is <root>/dedupe_spark/session.py)
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def box_resources() -> tuple[int, str | None]:
    """(cpus, driver memory) defaults taken from the machine.

    CPUs are the ones in this process's affinity mask (what ``nproc``
    prints), or ``os.cpu_count()`` where the OS has no affinity call; the
    driver heap is half of ``MemTotal`` in whole GiB, at least 1g, or None
    (Spark's own default) where there is no ``/proc/meminfo``.
    ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` win when set.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        n = int(cpus)
    elif hasattr(os, "sched_getaffinity"):
        n = len(os.sched_getaffinity(0))
    else:
        n = os.cpu_count() or 1
    mem = os.environ.get("SPARK_DRIVER_MEM") or None
    if mem is None and os.path.exists(MEMINFO):
        with open(MEMINFO) as fh:
            kib = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
        mem = f"{max(1, kib // (2 * 1024 * 1024))}g"
    return n, mem


def worker_daemon_conf(master: str) -> dict[str, str]:
    """Confs that fork every Python worker from ``dedupe_spark._daemon``.

    Only for local masters (``local``, ``local[N]``, ``local-cluster[...]``),
    whose workers share the driver's filesystem: the daemon is imported
    before any task ships ``--py-files``, so the workers get the driver's
    package location on ``PYTHONPATH``. That path means nothing on a
    remote executor (and on YARN it would replace the ``PYTHONPATH`` the
    client fills with the shipped files), so any other master, including
    ``"cluster"``, keeps Spark's default daemon.
    """
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": "dedupe_spark._daemon",
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
    }


def get_spark(
    app_name: str = "dedupe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    master defaults to ``local[cpus]`` with cpus from ``box_resources``;
    on a real cluster pass ``"cluster"`` and let spark-submit decide.
    """
    cpus, driver_mem = box_resources()
    if master is None:
        master = f"local[{cpus}]"
    # Parse parallelism out of local[N] for shuffle sizing; on a cluster you
    # would size this to executors*cores (or rely on AQE coalescing).
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = SparkSession.builder.appName(app_name)
    # master == "cluster": leave the master to spark-submit / cluster
    # manager (the packaged entrypoint scripts/run_pipeline.py uses this)
    if master != "cluster":
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH)
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fresh Python worker per task: reused workers accumulate allocator
        # state across Arrow-UDF stages and measurably degrade (2-4x) over a
        # long session. A fresh worker used to pay ~0.5-0.9 s of imports
        # (pandas, pyarrow, the kernels); _daemon pays them once per
        # executor (worker_daemon_conf, local masters) and forks each task's
        # fresh worker from that warm process
        .config("spark.python.worker.reuse", "false")
        # batch engine, no latency SLO: the throughput collector beats G1's
        # pause-bounded collection at width 32 (~5% on the scoring stage,
        # measured via A/B on the scaling workload)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    conf = worker_daemon_conf(master)
    # local[N] runs all executor threads inside the driver JVM — size the
    # heap for N concurrent tasks' shuffle + cache blocks or GC dominates
    if driver_mem:
        conf["spark.driver.memory"] = driver_mem
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
