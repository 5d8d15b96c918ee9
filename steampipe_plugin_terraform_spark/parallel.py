"""How many tasks a narrow stage gets: one rule per kind of stage.

- ``slices``: a Python stage (the ingest's parse, an Arrow-batched
  operator) pays a Python worker per task and a shuffle to spread its
  input, so it fans out by input bytes, one slice per ``SLICE_BYTES``.
  Small interactive inputs are dominated by fixed per-task costs (Dremel,
  VLDB 2020); under two slices a stage runs as one task and adds no
  exchange.
- ``spread``: a JVM projection with expensive per-row work (regex chains,
  n-gram scans, per-element array math) is repartitioned to
  ``defaultParallelism`` when its input arrives in fewer than half that
  many partitions: a single-split input would otherwise serialize it on
  one core. At real scale the input arrives in many partitions and the
  gate skips the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# bytes per Python slice: under ~0.2 s of HCL parse (~0.9 µs/byte), less
# than a cold Python worker plus a shuffle on every later query
SLICE_BYTES = 256 * 1024


def slices(spark: SparkSession, nbytes: int, cap: int | None = None) -> int:
    """``max(1, min(cap, nbytes // SLICE_BYTES))``, with ``cap`` at most
    (and by default) ``defaultParallelism``."""
    par = spark.sparkContext.defaultParallelism
    return max(1, min(par if cap is None else min(cap, par), nbytes // SLICE_BYTES))


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``: file bytes for a scan,
    scaled by column widths through projections. A py4j call, no job."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def spread(proj: DataFrame) -> DataFrame:
    """``proj`` round-robined to ``defaultParallelism`` partitions when it
    arrives in fewer than ``max(defaultParallelism // 2, 2)``; otherwise
    ``proj`` unchanged."""
    par = proj.sparkSession.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() >= max(par // 2, 2):
        return proj
    return proj.repartition(par)
