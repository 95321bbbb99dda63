"""Partitioning utilities shared across operators.

Spark assigns one scan task per parquet *row group*, not per row: a
small single-row-group file arrives as ONE split no matter what
``spark.sql.files.maxPartitionBytes`` says, which serializes every
narrow map over it (regexp normalization, shingle explode, per-centroid
dot products) onto one core. ``spread`` is the scale-aware escape
hatch: repartition only when the input is narrower than the session's
default parallelism, so it is a no-op on production-sized inputs that
already arrive pre-split.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["spread", "local_df"]


def _file_leaf_stats(df: DataFrame) -> tuple[int, int]:
    """(total bytes, file count) of the file-source leaves of the
    ANALYZED logical plan. Driver-side py4j tree walk — measured
    13–36 ms from scan-only through funnel-depth plans; no
    optimization, no physical planning, no jobs. Unions/joins sum their
    branches (each branch plans its own scan, so double-reads count
    double — correct for a parallelism estimate). Subquery expressions
    are not descended into: they do not govern this frame's
    partitioning. ``(0, 0)`` when the plan has no file leaves
    (LocalRelation / LogicalRDD / Range sources, and non-file
    relations such as JDBC, which have no ``location()``)."""
    total = 0
    n_files = 0
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        children = node.children()
        n = children.size()
        if n == 0 and node.nodeName() == "LogicalRelation":
            rel = node.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                total += rel.sizeInBytes()
                n_files += len(rel.location().inputFiles())
        for i in range(n):
            stack.append(children.apply(i))
    return total, n_files


def _estimated_scan_splits(df: DataFrame, target: int) -> int | None:
    """Estimate the plan's source parallelism with Spark's own file-
    split formula (FilePartition.maxSplitBytes): pad each file with
    ``openCostInBytes``, cap splits at ``maxPartitionBytes``, floor the
    per-core share at the open cost. Returns None when the plan has no
    file leaves (caller falls back to the exact probe)."""
    total, n_files = _file_leaf_stats(df)
    if n_files == 0:
        return None
    jvm = df.sparkSession._jvm
    conf = df.sparkSession.conf

    def _bytes(key: str, default: str) -> int:
        return jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            conf.get(key, default)
        )

    max_part = _bytes("spark.sql.files.maxPartitionBytes", "128m")
    open_cost = _bytes("spark.sql.files.openCostInBytes", "4m")
    padded = total + n_files * open_cost
    bytes_per_core = padded // max(1, target)
    max_split = min(max_part, max(open_cost, bytes_per_core))
    return max(1, math.ceil(padded / max(1, max_split)))


def spread(df: DataFrame, *keys: Column | str) -> DataFrame:
    """Raise map-side parallelism when (and only when) the plan's
    source arrives narrower than ``sparkContext.defaultParallelism``.

    With ``keys``, hash-repartitions on them — downstream groupBy /
    join on the same keys then reuses the distribution and the plan
    keeps exactly ONE Exchange (verified via explain on the dedup
    signature aggregates). Without keys, round-robin repartitions —
    right for purely per-row work (ANN scoring, quality metrics) where
    balance matters and no downstream key exists.

    The narrowness decision comes from the file-leaf size estimate
    (:func:`_estimated_scan_splits`), NOT from probing the physical
    plan (r15). The previous probe — ``df.rdd.getNumPartitions()`` —
    was billed as plan inspection, but under AQE converting a plan with
    exchanges to an RDD **executes its query stages**: measured 3.97 s
    cold (real jobs) on the textprep funnel's post-exact-dedup lineage,
    ~0.1 s of physical planning even on scan-only plans, per call. The
    size walk costs 13–36 ms, runs zero jobs, and makes the same
    decision: small local inputs (single-row-group files, the case the
    repartition exists for) estimate far below any core count, and
    production-sized inputs estimate at or above ``defaultParallelism``
    by Spark's own split formula, keeping spread a no-op there.
    Measured on the 32-core local harness: 2.3–3.7× on the dedup
    signature suite, which previously ran its whole map side on one
    core. Plans with no file leaves (driver-local frames) keep the
    exact probe — those lineages are cheap to plan by construction.
    """
    if df.isStreaming:
        # no .rdd on a streaming plan; micro-batch parallelism is the
        # source's concern (maxFilesPerTrigger / kafka partitions)
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _estimated_scan_splits(df, target)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    if keys:
        return df.repartition(target, *keys)
    return df.repartition(target)


def local_df(spark: SparkSession, rows, schema: str | T.StructType):
    """Driver-side rows → DataFrame with SIZE-AWARE slicing (round-11).

    Plain ``createDataFrame(list)`` parallelizes even a 6-row table
    across ``defaultParallelism`` Python-payload partitions, and every
    consuming exchange drains ALL of them through Python workers —
    measured ~0.8 s per broadcast of a tiny stop list, and ~4.5 s when
    a ``coalesce(1)`` write forced one task to drain 32 sequentially.
    Tiny tables (stop lists, sketch probe terms, centroid tables,
    report spines) therefore get ONE slice; large driver lists (the
    gated ≤1M-edge union-find labels) keep enough slices that
    downstream jobs stay parallel (~100k rows per slice, capped at
    ``defaultParallelism``).
    """
    rows = rows if isinstance(rows, list) else list(rows)
    sc = spark.sparkContext
    if not rows:
        return spark.createDataFrame([], schema)
    slices = max(1, min(sc.defaultParallelism, len(rows) // 100_000))
    return spark.createDataFrame(sc.parallelize(rows, slices), schema)
