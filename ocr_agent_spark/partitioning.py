"""Scan-parallelism guard for CPU-heavy operators (guide §2.5).

A parquet scan's parallelism is bounded by file count and row-group
layout: a table written as one file with one row group — typical for
small/medium reference extracts — scans as ONE task no matter how many
cores the session has. Catalyst then fuses any expensive per-row work
(shingle explode + hashing, embedding arithmetic, regex profiling) into
that single-task scan stage, serializing the whole pipeline head.

``widen_if_narrow`` repartitions such inputs up to the session's
shuffle parallelism before the heavy work. It is deliberately
scale-ADAPTIVE, not a constant: when the scan already carries at least
half the target partitions (the 100 TB case — thousands of splits) it
is a no-op, so production plans never pay an extra exchange. The
repartition is round-robin; Spark's sort-before-repartition (on by
default, SPARK-23207) keeps the row→partition assignment deterministic
under task retry.

The sizing rule itself, ``partitions_for_bytes``, is shared: the
ordered merge (``operators.merge``) sizes its range partition with it
too, against Spark's advisory partition size instead of the widening
constant.

Only row counts/placement change — never row values — so every
downstream aggregate of exact types (counts, min-hash longs, integer
sizes) is bit-identical. Callers whose results depend on float
accumulation ORDER should not use this (none in this package do on
oracle-checked paths).
"""

from __future__ import annotations

import math
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

# One CPU-heavy task per this many PLAN-ESTIMATED bytes. The estimate
# is COMPRESSED file bytes for parquet inputs, and text columns can
# compress 10-100× (the synthetic corpora do), so the constant is
# deliberately small — 64 KB compressed ≈ 0.2-5 MB of text per task.
# The knob keeps the widened partition count proportional to the data:
# a 30 KB correctness fixture stays at 1 partition (no exchange at
# all) instead of fanning out to 2×cores empty tasks — at local[32]
# each 64-empty-task stage costs 0.2-0.5 s of pure scheduling — while
# a bench-scale input still widens to (near) the session parallelism.
DEFAULT_WIDEN_BYTES_PER_TASK = 64 << 10


def scan_partitions(df: DataFrame) -> int:
    """Physical partition count of the plan feeding ``df`` (no job)."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return -1


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for ``df`` (no job; None if the
    estimate is unavailable or nonsensical)."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes())
        )
    except (Py4JJavaError, ValueError):
        return None
    # 2^63-ish means "unknown" (Statistics.DEFAULT); treat as absent.
    if size <= 0 or size >= (1 << 62):
        return None
    return size


def partitions_for_bytes(df: DataFrame, bytes_per_partition: int,
                         limit: int) -> int:
    """THE sizing rule: ``clamp(ceil(est_bytes / bytes_per_partition),
    1, limit)`` over Catalyst's byte estimate of ``df`` (no job), or
    ``limit`` when the estimate is unavailable."""
    size = _plan_size_bytes(df)
    if size is None:
        return limit
    return max(1, min(limit, math.ceil(size / bytes_per_partition)))


def advisory_partition_bytes(spark) -> int:
    """Spark's own per-partition byte target,
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (``'67108864b'``
    by default), parsed by Spark's byte-string rules."""
    value = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    return int(spark._jvm.org.apache.spark.network.util.JavaUtils
               .byteStringAsBytes(value))


def widen_if_narrow(df: DataFrame, target: int | None = None,
                    bytes_per_task: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to ``target`` partitions iff
    its current parallelism is below half the target — sized by the
    plan's byte estimate, never more than the session parallelism.

    ``target`` defaults to the session's ``spark.sql.shuffle.partitions``
    (itself derived from the core count in ``session.build_spark``), so
    the knob scales with the session rather than hard-coding local-mode
    numbers. Inputs already ≥ target/2 partitions pass through
    untouched — the production no-op path.

    The widened count is ``partitions_for_bytes(df, bytes_per_task,
    target)`` (``SPARK_GRAFT_WIDEN_BYTES_PER_TASK`` overrides the
    default): widening exists to parallelize CPU-heavy per-row work, so
    the fan-out should track how much data there is — a tiny input
    gains nothing from 2×cores partitions but pays scheduling for every
    downstream stage that reads them. When the estimate is unavailable
    the full target is used (the conservative pre-r8b behavior).
    """
    if target is None:
        try:
            target = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except Exception:
            return df
    n = scan_partitions(df)
    if n < 0 or 2 * n >= target:
        return df
    if bytes_per_task is None:
        bytes_per_task = int(os.environ.get(
            "SPARK_GRAFT_WIDEN_BYTES_PER_TASK",
            str(DEFAULT_WIDEN_BYTES_PER_TASK),
        ))
    need = partitions_for_bytes(df, bytes_per_task, target)
    if need <= n:
        return df
    return df.repartition(need)
