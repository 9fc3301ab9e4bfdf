"""Streaming WARC ingest: a crawler inbox of archives → snapshot store.

Production shape at crawl scale: the fetcher finishes a ``*.warc.gz``,
then appends its path to a small manifest file it drops in
``manifest_dir`` (write-temp + rename — the atomic handoff the file
source expects). This stream treats the MANIFEST files as the
streaming source, and each micro-batch runs the batch WARC reader over
the listed archives, then drains through the same loop as every other
stream (``streaming.ingest._drain_into_store``: one
``run_extraction_job`` per batch; a replayed batch's urls are already
committed, so it commits nothing).

Why manifests and not a binary file stream: vanilla Spark's file
streaming sources are text/csv/json/orc/parquet — and a 1 GB archive
must not travel as one row anyway. The manifest line is the unit of
offset tracking; the archive bytes stay on the worker that parses
them (``sources/warc.read_warc``: one archive per task, streaming
gzip-member decode, bounded batches).

An archive listed in two different manifests is re-parsed, but its
urls commit once: first committed url wins, as in a batch run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_agent_spark.sources.warc import read_warc
from ocr_agent_spark.streaming.ingest import _drain_into_store


def run_streaming_warc_extraction(
    spark: SparkSession,
    manifest_dir: str,
    output_root: str,
    checkpoint_dir: str,
) -> list[str]:
    """Drain all pending manifests (AvailableNow); returns committed
    run_ids. Each micro-batch: manifest lines → ``read_warc`` over the
    archive paths → ``run_extraction_job``."""

    def to_pages(batch: DataFrame) -> DataFrame | None:
        # The batch frame holds PATH STRINGS only — collecting it moves
        # a few hundred bytes per archive to the driver, never payloads.
        paths = sorted({r["value"].strip() for r in batch.collect()} - {""})
        return read_warc(spark, paths) if paths else None

    manifests = spark.readStream.format("text").load(manifest_dir)
    return _drain_into_store(manifests, output_root, checkpoint_dir, "warc",
                             to_pages)
