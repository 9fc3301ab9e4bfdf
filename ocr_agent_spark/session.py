"""SparkSession construction with scale-oriented defaults.

Single place where execution knobs live so tests, bench and jobs agree:
AQE on (runtime re-plan + skew-join splitting), Arrow on with batches
sized to "thousands of documents per invocation" (BASELINE north_star),
Python worker reuse so kernel module state loads once per worker, a
worker daemon (``worker_daemon``) that loads it before forking so a new
worker does not import it inside its first task, UTC session timezone
for deterministic timestamp round-trips.

There is deliberately no scan-split override: splits follow Spark's own
bytes-per-core rule, ``min(maxPartitionBytes, max(openCostInBytes,
totalBytes / defaultParallelism))``, where ``totalBytes`` charges each
file its open cost. That packs a small corpus into about one split per
core, so the fused extraction (one Python task per split) runs as one
wave. A Python task has a fixed cost before any program code runs.
With pyspark's stock daemon it was 0.15-0.26 s on a 4-vCPU host,
nearly all of it pyspark's per-task ``importlib.invalidate_caches()``,
which makes every ``zipimporter`` re-read its archive's directory
(``pyspark.zip``, and the ``spark-core`` jar Spark puts on the
workers' ``PYTHONPATH``). ``worker_daemon`` skips the re-read of an
unchanged archive, so that call takes 0.2-0.5 ms and a warm trivial
3-task Python job 0.16-0.19 s in place of about 0.53 s. Each extra
wave of Python tasks still costs wall time, so a smaller split cap
buys overhead, not parallelism. A deployment that wants another split
size sets Spark's ``spark.sql.files.maxPartitionBytes`` through
``extra_conf`` or its Spark defaults.

``cores`` defaults to ``SPARK_GRAFT_CPUS`` or else to the CPUs this
process may run on (its affinity mask, not the machine's count), since
``local[N]``'s N is the size of that wave.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH_ROWS = 2048


def build_spark(
    app_name: str = "ocr-agent-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH_ROWS),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "ocr_agent_spark.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        # Transient-failure retry: the reference retries SQLite connects
        # with backoff (queue_store.py:205-227 in the reference repo);
        # Spark's analogue is per-task retry — a task that dies on a
        # transient I/O error (object-store hiccup, executor loss) is
        # rescheduled up to maxFailures-1 times before failing the job.
        # Extraction tasks are idempotent (commit is all-or-nothing per
        # run), so retries are always safe. local[] mode defaults this
        # to 1 (fail fast); set the cluster default explicitly so tests
        # exercise the same retry semantics a real cluster has.
        .config("spark.task.maxFailures", "4")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
