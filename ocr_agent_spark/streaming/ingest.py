"""Streaming ingestion: the watch-folder analogue (SURVEY §2.9).

The reference polls an inbox every second and claims ready bundles with
filesystem markers (/root/reference/gui/src-tauri/src/watch_folder.rs:
135-241). Structured Streaming replaces that machinery, and every
stream drains through one loop, ``_drain_into_store``, into the job's
snapshot table:

- poll loop (ST1)        → micro-batch trigger; ``Trigger.AvailableNow``
                            drains the backlog then stops (batch-friendly)
- ``.ready`` marker (ST2) → the file source only sees fully-written
                            files (atomic rename is the writer contract)
- ``.processing`` lock (ST3) → checkpointed source offsets; a replayed
                            batch commits nothing because its urls are
                            already committed (resume by content, as in a
                            batch run)
- ``.processed``/``.failed`` markers (ST4) → the batch's rows (status/error
                            columns, failure rows never abort) and lineage,
                            published together by the batch's commit

Each micro-batch IS a batch run: ``pipeline.run_extraction_job`` over the
batch's pages, so streamed and batch output share one table, one resume
rule (url anti-join, giant-PDF sharding included) and one merge/status
surface. A run dir stranded by a kill before its publish is replaced by
the retry in ``SnapshotStore.commit``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ocr_agent_spark.fixtures import PAGES_ARROW_SCHEMA_DDL
from ocr_agent_spark.pipeline import EmptyInputError, run_extraction_job


def _drain_into_store(
    source: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    run_prefix: str,
    to_pages: Callable[[DataFrame], DataFrame | None],
) -> list[str]:
    """Drain ``source`` (AvailableNow) into ``output_root``'s snapshot
    table; returns the run_ids that committed rows (``[]`` on a no-op).

    Each micro-batch runs ``run_extraction_job`` over its pages
    (``to_pages(batch)``; ``None`` commits nothing) as run
    ``<run_prefix><query id[:8]>-<batch_id:08d>``. The query id is the
    checkpoint's, so the run_id is unique per checkpoint and stable
    across its restarts: a batch re-delivered after a kill retries its
    own run_id. Source offsets live in ``checkpoint_dir``.
    """
    committed: list[str] = []

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        pages = to_pages(batch)
        if pages is None:
            return
        spark = batch.sparkSession
        qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        run_id = f"{run_prefix}{qid[:8]}-{batch_id:08d}"
        try:
            result = run_extraction_job(spark, pages, output_root, run_id=run_id)
        except EmptyInputError:
            return
        if result.pages_processed > 0:
            committed.append(run_id)

    (
        source.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return committed


def run_streaming_extraction_committed(
    spark: SparkSession,
    input_dir: str,
    output_root: str,
    checkpoint_dir: str,
) -> list[str]:
    """Drain every unprocessed pages parquet file in ``input_dir`` into
    ``output_root``'s snapshot table — the streaming twin of
    ``pipeline.run_extraction_job``; returns the run_ids committed.

    A multi-page PDF on the stream yields all its pages, the same rows
    as a batch run over the same payload. Every micro-batch publishes
    its own run dir, so a long-lived watcher accumulates files; fold
    them with ``SnapshotStore.compact`` + ``expire_snapshots`` (CLI:
    ``python -m ocr_agent_spark compact``).
    """
    pages = (
        spark.readStream.schema(PAGES_ARROW_SCHEMA_DDL)
        .format("parquet").load(input_dir)
    )
    return _drain_into_store(pages, output_root, checkpoint_dir, "stream",
                             lambda batch: batch)
