"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs mirror what we'd set cluster-side via spark-submit:
AQE on (runtime re-plan + skew-join splitting), Arrow for all pandas UDF
exchange, shuffle partitions sized to cores (not the 200 default), UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cores() -> int:
    """`local[N]` width: SPARK_GRAFT_CPUS if set, else the CPUs this
    process may run on (its affinity mask, so `taskset` narrows it)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))


def get_spark(
    app: str = "frontier-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    # one BLAS thread per Python worker: with N workers on N cores, a
    # multi-threaded OpenBLAS spawns N×N math threads and the pandas-UDF
    # stages get SLOWER as parallelism rises (measured: verify stage 39 s at
    # 8 cores → 55 s at 32 before this). Must be set before the JVM (and so
    # the workers) start.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # smaller Arrow batches into pandas UDFs: at the default 10k rows,
        # 32 workers each juggle ~100-200 MB of transient decode arrays at
        # once and the simultaneous allocation storm collapses memory
        # bandwidth (measured: the same 10k-image verify batch costs 1 s
        # warm but up to 30 s when all 32 workers hit their first batch
        # together; a 32-process control with 2k batches never does).
        # 2048 keeps numpy fully vectorized with ~5% of the working set.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # FAIR job scheduling: the engine deliberately runs independent job
        # DAGs concurrently (a round's payload verify ∥ its extract →
        # fused write ∥ its deferred-slice write — plans/frontier._POOL).
        # Under the default FIFO scheduler the long verify job's stages
        # hold every task slot and the short write job queues behind them
        # (measured: writes_ms 10.6 s at local[32] vs 2.0 s at local[8] in
        # scaling attempt 16).
        # NOTE this flag alone is NOT enough: FAIR arbitrates BETWEEN
        # pools, and with no allocation file every job lands in the one
        # default pool whose internal mode is FIFO — so each concurrent
        # action thread must also set a distinct spark.scheduler.pool
        # local property (plans/frontier._pool_submit does; auto-created
        # pools fair-share against each other at weight 1).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # list partition dirs on the driver: every root the engine reads has
        # at most seen_buckets of them (64 here), which the driver lists in
        # milliseconds, while the default (a Spark job above 32 paths) cost
        # 410–455 ms per frontier read on 4 cores (traced bulk_drain)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # Python workers fork from a daemon that skips re-reading unchanged
        # zip archives (pyspark.zip, the Spark jar) at every task's
        # importlib.invalidate_caches(), 160–280 ms of CPU per task under
        # the stock daemon (worker_daemon's docstring). The package root
        # goes on the workers' PYTHONPATH so the daemon starts from any
        # working directory.
        .config("spark.python.daemon.module", "distributed_web_crawler_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    # RAM-backed shuffle dirs: in single-box local mode every "executor"
    # shares one disk, which otherwise becomes the non-scaling resource for
    # shuffle-heavy stages (a real cluster shuffles over per-node disks/NICs)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Rows per task of a row-sized Python stage. A pandas-UDF task has a fixed
# cost that dwarfs a few dozen rows of work: on a reused worker, a median
# 99 ms from job submit to UDF entry (scheduling, the worker hand-off,
# Arrow framing), plus, under the stock pyspark.daemon, a median 224 ms of
# zip-archive re-reads at the task's importlib.invalidate_caches(), which
# worker_daemon removes (local[4], 4-core VM). The verify stages of a 30-URL crawl job took 9.5 s of executor
# time as 8-task stages and 2.0 s row-sized (local[4]). 256 keeps bulk
# rounds (8k–16k admitted rows) at the 2× cores cap up to local[16], so
# they plan as before.
ROWS_PER_TASK = 256


def sized_tasks(spark: SparkSession, rows: int, rows_per_task: int = ROWS_PER_TASK) -> int:
    """Task count for an exchange whose row count the caller already holds:
    one task per `rows_per_task` rows, at least 1, at most 2× the default
    parallelism (finer tasks smooth stragglers in CPU-bound stages; more
    only add scheduling)."""
    cap = 2 * spark.sparkContext.defaultParallelism
    return max(1, min(cap, -(-int(rows) // rows_per_task)))
