"""ocr_agent_spark — a PySpark-native main-content extraction engine.

A brand-new engine with the query/data-processing capabilities of the
reference ``takuto-NA/ocr-agent`` (a single-process OCR queue app),
re-expressed Spark-first: an ordered document queue becomes a parquet
table keyed by ``(url, page_index)``; the per-row OCR black box becomes
an Arrow-vectorized extraction kernel (HTML boilerplate removal +
mini-PDF layout reconstruction) running inside ``mapInPandas``; the
SQLite status machine becomes snapshot-manifest commits with anti-join
resume; the ordered markdown merge becomes a range-partitioned sort +
two-phase concat.

Layout:
- ``kernel/``     pure-Python, Spark-free kernels: HTML and PDF extraction,
                  math rewrite, merge rendering, WARC, robots.txt, sitemaps
- ``operators/``  Spark DataFrame operators (ingest-time routing metadata,
                  extract, merge, metrics, triage, skew)
- ``sources/``    the snapshot store and the WARC/WET readers and writers
- ``functions/``  the crawl delta, robots gate and politeness frontier behind
                  ``cli schedule``
- ``streaming/``  the two Structured Streaming ingest drivers (pages parquet,
                  WARC manifests; the inbox-watcher analogue)
- ``pipeline``    the resumable job; ``cli`` (``python -m ocr_agent_spark``)
                  drives it, ``worker_daemon`` preloads Spark's Python workers

Every module is reachable from ``__main__``, ``pipeline``,
``worker_daemon``, ``streaming.ingest`` or ``streaming.warc``
(``tests/test_package_reachable.py``), except the retired modules that
test lists in ``RETIRED``: the round-8 query library (the rest of
``functions/``, the media and link kernels, ``cache``,
``sources/{bucketed,sized_writer}`` and ``corpus``) and the stream-side
column helpers (``streaming/{dedup,stateful,windows}``). The same test
holds every public function of a reached module to a caller outside
``tests/``; its ``TEST_ONLY`` list names the ones still without one.
"""

__version__ = "0.2.0"
