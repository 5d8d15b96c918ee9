"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
All knobs here are safe at both extremes:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion replace hand-tuned partition counts at scale.
- shuffle.partitions is only the *initial* number; AQE coalesces. At 100 TB
  you would raise it (or rely on AQE's initialPartitionNum); locally 32 avoids
  tiny-partition overhead.
- Arrow enabled for the Python boundary (the HCL parse UDF and any pandas UDFs
  transfer columnar batches, not pickled rows).
- Session timezone pinned to UTC so timestamp semantics are deterministic and
  match the DuckDB oracle (which is timezone-naive).
- Python workers fork from ``daemon.py`` (``spark.python.daemon.module``), not
  from pyspark's stock daemon: on CPython < 3.13 every task otherwise
  re-reads pyspark.zip's directory once per imported subpackage (0.2-0.3
  CPU-s per task), a per-task tax that grows with task count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# RocksDB-backed streaming state: keeps per-key state off-heap and spills
# to local disk, so stateful operators (session windows, dedup-within-
# watermark, flatMapGroupsWithState) are bounded by disk, not executor
# heap — the right provider once streaming state outgrows memory (100 TB
# design point: billions of live session keys). The default HDFS-backed
# provider keeps every key's state in the JVM heap.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# Python worker daemon that skips re-reading unchanged zip archives on
# every task (see daemon.py).
DAEMON_MODULE = "steampipe_plugin_terraform_spark.daemon"


def get_spark(
    app_name: str = "steampipe-terraform-spark",
    master: str | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Pin BLAS to one thread per Python worker: N parallel Arrow-batched
    # tasks each spawning an ncores-thread OpenBLAS matmul oversubscribes
    # the box N-fold (measured here: 1-6x run-to-run swings on the numpy
    # cosine operators under 32 workers x 32 BLAS threads). Parallelism
    # belongs to Spark's task scheduler, not to per-task BLAS pools —
    # same rule on a real cluster, where executor cores are already the
    # unit of parallelism. setdefault honors an explicit override; the
    # env must be set BEFORE the JVM launches so the forked Python
    # worker daemon inherits it (executorEnv covers cluster mode).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Spark starts DAEMON_MODULE with `python -m` in the JVM's working
    # directory, so put this package's parent on the workers' path (the
    # JVM passes its PYTHONPATH on) for a driver started from elsewhere.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, root])
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) if cpus.isdigit() else 32, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # local[N] runs all executor threads inside the driver JVM, so the
        # driver heap IS the cluster memory: undersizing it turns execution
        # memory pressure into GC churn (measured: the full bench suite is
        # ~2× slower at 8g than 48g on a 128 GiB box). On a real cluster
        # this knob sizes only the coordinator; executors are sized by
        # spark.executor.memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
    )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    spark = builder.getOrCreate()
    if rocksdb_state:
        # providerClass is a runtime SQL conf read at stream start, so it
        # also takes effect when getOrCreate returned a pre-existing session
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    return spark
