"""Structured Streaming ingestion (the inbox-watcher analogue).

Two drivers, the package's streaming entry points: a pages-parquet
inbox (``ingest``) and a WARC manifest inbox (``warc``). Both drain
through one loop that runs ``pipeline.run_extraction_job`` per
micro-batch, so the watch folder's poll, ``.ready``, ``.processing``
and ``.processed``/``.failed`` states (ST1-ST4) map to the batch job's
commit, and a replayed batch resolves by content: its committed urls
are skipped. ``dedup``, ``windows`` and ``stateful`` are retired
stream-side column helpers that no driver uses
(``tests/test_package_reachable.py``: ``RETIRED``).
"""

from ocr_agent_spark.streaming.ingest import run_streaming_extraction_committed
from ocr_agent_spark.streaming.warc import run_streaming_warc_extraction

__all__ = ["run_streaming_extraction_committed", "run_streaming_warc_extraction"]
