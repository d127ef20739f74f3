"""SparkSession construction with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# the directory (or --py-files zip) this package was imported from
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon_conf(master: str) -> dict[str, str]:
    """Conf that starts local-mode Python workers from ``topojson_spark._daemon``,
    which keeps zip archive directories across tasks (see that module).

    The daemon starts before any task adds ``--py-files`` archives to a
    worker's path, so ``spark.executorEnv.PYTHONPATH`` carries the package's
    import root; Spark merges it with its own worker path. Other masters get
    ``{}`` and keep the stock daemon, because the driver's path need not
    exist on an executor."""
    if not (master == "local" or master.startswith("local[")):
        return {}
    return {
        "spark.python.daemon.module": "topojson_spark._daemon",
        "spark.executorEnv.PYTHONPATH": _IMPORT_ROOT,
    }


def default_driver_mem() -> str:
    """Half of MemTotal, between 1g and 24g; 4g where /proc/meminfo is absent.

    In local mode the driver heap also holds the executors' blocks; the other
    half of the host is left to the Python workers and the page cache."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "4g"
    return f"{max(1, min(24, kb // 2**20 // 2))}g"


def _submitted_conf() -> dict[str, str]:
    """The conf a spark-submit launch started the JVM with, ``{}`` outside
    spark-submit. Its ``--master`` and ``--conf`` values win over
    ``get_spark``'s defaults."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "topojson_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    aqe: bool | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for the target workload (many small-ish arc rows, Arrow
    UDF heavy): AQE on (skew-join splitting + partition coalescing), Arrow
    transfer on, broadcast threshold left to AQE runtime stats.

    ``aqe=False`` disables adaptive execution: AQE re-plans the query after
    EVERY exchange, which costs a fixed chunk of serial driver latency per
    shuffle stage — measured ~45 s across a full pipeline run at sandbox
    scale (74 s -> 29 s wall at 4 cores), identical at every parallelism
    level. At production data volumes that latency is noise and AQE's skew
    splitting pays for itself; benchmark/latency-sensitive small runs should
    pass aqe=False (or set SPARK_GRAFT_AQE=false).

    Under spark-submit, the submitted ``--master`` and ``--conf`` values win
    over these defaults; an explicit ``master``, ``SPARK_GRAFT_MASTER`` or
    ``SPARK_GRAFT_CPUS`` wins over the submitted master.
    """
    submitted = _submitted_conf()
    master = (
        master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or submitted.get("spark.master", "local[*]")
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master.startswith("local["):
        master = f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    if aqe is None:
        aqe = os.environ.get("SPARK_GRAFT_AQE", "true").lower() not in (
            "0", "false", "no",
        )

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true" if aqe else "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE coalescing is byte-based; this workload's shuffle rows are tiny
        # in bytes but CPU-heavy (Arrow UDF kernels), so the default 1m floor
        # collapses post-shuffle UDF stages to a handful of tasks. A small
        # floor keeps coalescing parallelism-first (cpu-bound stages spread
        # across all cores) while still merging genuinely empty partitions.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scan partition sizing: the engine's hot path is a document scan
        # feeding a CPU-bound Arrow parse (~100x more CPU per byte than a
        # pure-JVM scan). The 128m default packs a whole small corpus into
        # a couple of tasks and starves the cores; 16m keeps parse tasks at
        # ~1-3 s so the scheduler can balance them. Task count still scales
        # with input (100 TB / 16m is millions of tasks, which the DAG
        # scheduler amortizes per-executor); override via
        # SPARK_GRAFT_MAX_PARTITION_BYTES for pure-SQL analytics sessions.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"
        ),
        # pipeline plan trees get very deep (6 chained stages x pinned
        # branches); uncapped explain-string generation for execution events
        # can OOM the driver on plans that execute fine
        "spark.sql.maxPlanStringLength": "100000",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # block/shuffle codec: on memory-bandwidth-starved hosts a stronger
        # codec trades (well-scaling) CPU for (non-scaling) bytes moved
        "spark.io.compression.codec": os.environ.get(
            "SPARK_GRAFT_IO_CODEC", "lz4"
        ),
        "spark.rdd.compress": os.environ.get("SPARK_GRAFT_RDD_COMPRESS", "false"),
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", default_driver_mem()
        ),
        # observability seam: SPARK_GRAFT_EVENTLOG=<dir> writes the
        # standard Spark event log there (history-server compatible);
        # tools/ parse it for per-stage task-time attribution
        "spark.eventLog.enabled": (
            "true" if os.environ.get("SPARK_GRAFT_EVENTLOG") else "false"
        ),
        "spark.eventLog.dir": os.environ.get(
            "SPARK_GRAFT_EVENTLOG", "/tmp/spark-events"
        ),
        # GC choice (local mode: driver == executor JVM). This workload is
        # pure throughput — short-lived Arrow/shuffle allocations, no
        # latency SLO — where stop-the-world ParallelGC beats G1: G1's
        # concurrent mark/refinement threads compete with executor tasks
        # for cores and memory bandwidth, and the contention grows with
        # task parallelism (measured on the scaling job, 160k docs:
        # 16-core leg 87.7s -> 67.3s, 4-core 208.6s -> 181.4s just from
        # -XX:+UseParallelGC). Cluster deployments set their own
        # spark.executor.extraJavaOptions; override via
        # SPARK_GRAFT_JVM_OPTS.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC"
        ),
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(worker_daemon_conf(master))
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map={k: v for k, v in conf.items() if k not in submitted})
        .getOrCreate()
    )
