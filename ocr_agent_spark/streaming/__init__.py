"""Structured Streaming ingestion (the inbox-watcher analogue).

Every stream (a pages-parquet inbox, ``ingest``; a WARC manifest inbox,
``warc``) drains through one loop into the job's snapshot table, so
the watch folder's poll, ``.ready``, ``.processing`` and
``.processed``/``.failed`` states (ST1-ST4) all map to that one drain.
``dedup``, ``windows`` and ``stateful`` are stream-side column helpers.
"""

from ocr_agent_spark.streaming.ingest import run_streaming_extraction_committed

__all__ = ["run_streaming_extraction_committed"]
