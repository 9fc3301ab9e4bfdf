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
- ``.processing`` lock (ST3) → checkpointed source offsets, and a run_id
                            derived from the batch id: a replayed batch
                            already committed (live in the manifest, or
                            folded by a compaction) is skipped, a run dir
                            stranded between write and publish is rewritten
- ``.processed``/``.failed`` markers (ST4) → the batch's rows (status/error
                            columns, failure rows never abort) and lineage,
                            published together by ``pipeline.commit_run``

The transformation is the SAME fused extraction as the batch job, so
streamed and batch output share one table, one resume contract and one
merge/status surface.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ocr_agent_spark.fixtures import PAGES_ARROW_SCHEMA_DDL
from ocr_agent_spark.operators.extract import extract_pages_fused
from ocr_agent_spark.pipeline import commit_run, extraction_store


def _drain_into_store(
    spark: SparkSession,
    source: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    run_prefix: str,
    to_pages: Callable[[DataFrame], DataFrame | None],
) -> list[str]:
    """Drain ``source`` (AvailableNow) into ``output_root``'s snapshot
    table; returns the run_ids this drain committed (``[]`` on a no-op).

    Each micro-batch becomes run ``<run_prefix><batch_id:08d>``: its
    pages (``to_pages(batch)``; ``None`` commits nothing) are extracted
    and committed, data and lineage in one manifest publish. Source
    offsets live in ``checkpoint_dir``; after a failure, or with a fresh
    checkpoint, ``foreachBatch`` re-delivers the same ``batch_id``.
    Replay rule: a run_id that is live in the latest manifest, or that
    a compaction folded (``SnapshotStore.compact`` keeps each folded
    run's lineage rows under its run_id), is already committed and is
    skipped; any other run dir of that name was left by a crash before
    its publish, so it is discarded and the batch rewritten.
    """
    store = extraction_store(output_root)
    committed: list[str] = []

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        run_id = f"{run_prefix}{batch_id:08d}"
        manifest = store.latest_manifest()
        if manifest is not None and (
            run_id in manifest["runs"]
            or any(r["run_id"] == run_id for r in store.lineage())
        ):
            return
        pages = to_pages(batch)
        if pages is None:
            return
        shutil.rmtree(os.path.join(store.data_dir, run_id), ignore_errors=True)
        commit_run(spark, store, run_id,
                   lambda counter: extract_pages_fused(pages, counter=counter))
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
    return _drain_into_store(spark, pages, output_root, checkpoint_dir,
                             "stream", lambda batch: batch)
