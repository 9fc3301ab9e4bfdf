"""Streaming WARC ingest: a crawler inbox of archives → snapshot store.

Production shape at crawl scale: the fetcher finishes a ``*.warc.gz``,
then appends its path to a small manifest file it drops in
``manifest_dir`` (write-temp + rename — the atomic handoff the file
source expects). This stream treats the MANIFEST files as the
streaming source (exactly-once offsets in the checkpoint), and inside
each micro-batch runs the batch WARC reader + fused extraction over
the listed archives, committing to the same snapshot store / lineage /
merge surface as every other ingest path.

Why manifests and not a binary file stream: vanilla Spark's file
streaming sources are text/csv/json/orc/parquet — and a 1 GB archive
must not travel as one row anyway. The manifest line is the unit of
offset tracking; the archive bytes stay on the worker that parses
them (``sources/warc.read_warc``: one archive per task, streaming
gzip-member decode, bounded batches).

Exactly-once: manifest offsets live in the streaming checkpoint;
``foreachBatch`` re-delivers the same ``batch_id`` after a failure,
the run_id derives from it, and a replayed run_id already present in
the snapshot manifest is skipped (same idempotent recipe as
``run_streaming_extraction_committed``).
An archive listed in two different manifests would be re-parsed;
downstream url-revisit policy (latest ``warc_ts`` wins) makes that a
dedup concern, not a correctness loss — list each archive once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def run_streaming_warc_extraction(
    spark: SparkSession,
    manifest_dir: str,
    output_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    num_partitions: int | None = None,
) -> list[str]:
    """Drain all pending manifests (AvailableNow); returns committed
    run_ids. Each micro-batch: manifest lines → ``read_warc`` over the
    archive paths → fused extraction → atomic snapshot commit with
    per-partition lineage (``pipeline.commit_run``)."""
    from ocr_agent_spark.operators.extract import extract_pages_fused
    from ocr_agent_spark.pipeline import commit_run, extraction_store
    from ocr_agent_spark.sources.warc import read_warc
    from ocr_agent_spark.streaming.ingest import _claim_replay

    store = extraction_store(output_root)
    committed_now: list[str] = []

    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    manifests = reader.load(manifest_dir)

    def commit_batch(paths_df, batch_id: int) -> None:
        # The batch frame holds PATH STRINGS only — collecting it moves
        # a few hundred bytes per archive to the driver, never payloads.
        paths = sorted(
            {r["value"].strip() for r in paths_df.collect() if r["value"].strip()}
        )
        if not paths:
            return
        run_id = f"warc{batch_id:08d}"
        if not _claim_replay(store, run_id):
            return
        pages = read_warc(spark, paths, num_partitions=num_partitions)
        commit_run(spark, store, run_id,
                   lambda counter: extract_pages_fused(pages, counter=counter))
        committed_now.append(run_id)

    query = (
        manifests.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return committed_now
