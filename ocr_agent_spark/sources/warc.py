"""Spark source: ``*.warc(.gz)`` archives → the input-hint pages table.

Common Crawl delivers ~1 GB ``.warc.gz`` files; this source turns a
set of them into the engine's canonical pages DataFrame
(``url, warc_ts, html, text, lang`` — fixtures.PAGES_ARROW_SCHEMA_DDL)
so the whole pipeline (extraction, dedup, merge, snapshots) runs
unchanged on real crawl deliveries.

Scale design — the parts that matter at 100 TB:

- **One task per archive, paths shuffled not payloads.** Gzip WARC is
  not splittable without an external index, so the natural Spark unit
  is one archive per task (exactly how cc-pyspark-style jobs run). We
  parallelize a DataFrame OF PATHS and open each file inside
  ``mapInPandas`` — the 1 GB payload never rides a shuffle and never
  materializes as one row (``binaryFile`` would hold whole archives in
  executor memory as single column values).
- **Bounded memory.** kernel/warcfile.py streams gzip members
  incrementally; peak memory per task ≈ one record, not one archive.
  Output flushes every ``out_batch_rows`` pages so a million-record
  archive cannot balloon a single Arrow batch (same policy as the
  fused extraction kernel).
- **Edge normalization.** Payload charsets (BOM / HTTP header / HTML5
  meta prescan) are transcoded to UTF-8 HERE, once, so every
  downstream stage keeps the exact utf-8 contract.
- **Skew.** Archives are near-uniform (~1 GB each) so path-level
  round-robin (``repartition(n)``) balances; a task reads only its own
  archives. ``lang``/``text`` are null at ingest (extraction fills
  them), matching the hint schema.

Malformed-archive contract: a structurally corrupt archive yields its
pages up to the corruption point plus one ``error`` row in the
companion errors frame (``read_warc_errors``); per-record oddities are
skipped inside the kernel. A bad file must not kill the 10k-file job.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
_ERRORS_DDL = "path string, pages_emitted long, error string"

_OUT_BATCH_ROWS = 2048


def _read_archives(batches: Iterator[pd.DataFrame],
                   with_errors: bool) -> Iterator[pd.DataFrame]:
    from ocr_agent_spark.kernel.warcfile import WarcFormatError, iter_warc_pages

    if with_errors:
        from ocr_agent_spark.kernel.warcfile import _iter_usable_responses

        for batch in batches:
            rows = {"path": [], "pages_emitted": [], "error": []}
            for path in batch["path"]:
                # framing-only pass (no charset transcoding) — same
                # count iter_warc_pages would emit, at counting cost
                count, err = 0, None
                try:
                    with open(path, "rb") as fh:
                        for _ in _iter_usable_responses(fh):
                            count += 1
                except Exception as exc:
                    err = repr(exc)
                rows["path"].append(path)
                rows["pages_emitted"].append(count)
                rows["error"].append(err)
            yield pd.DataFrame(rows)
        return

    cols = ("url", "warc_ts", "html", "text", "lang")
    for batch in batches:
        rows: dict[str, list] = {c: [] for c in cols}
        for path in batch["path"]:
            # open() failures are NOT corrupt deliveries: an archive
            # that vanished or lost permissions between enqueue and run
            # is an infrastructure error and must fail the task loudly
            # rather than silently contribute zero pages (ADVICE r4).
            fh = open(path, "rb")
            try:
                for url, ts, html in iter_warc_pages(fh):
                    rows["url"].append(url)
                    rows["warc_ts"].append(ts)
                    rows["html"].append(html)
                    rows["text"].append(None)
                    rows["lang"].append(None)
                    if len(rows["url"]) >= _OUT_BATCH_ROWS:
                        yield pd.DataFrame(rows)
                        rows = {c: [] for c in cols}
            except (WarcFormatError, OSError, ValueError):
                # corrupt tail / mid-read I/O error on an archive we
                # DID open: keep the pages already buffered; the
                # errors pass (read_warc_errors) reports the file.
                continue
            finally:
                fh.close()
        if rows["url"]:
            yield pd.DataFrame(rows)


def _paths_df(spark: SparkSession, paths: list[str]) -> DataFrame:
    if not paths:
        raise ValueError("no WARC paths given")
    n = min(len(paths), int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    ))
    df = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")
    return df.repartition(n)


def read_warc(spark: SparkSession, paths: list[str]) -> DataFrame:
    """WARC archive paths → pages DataFrame (input-hint schema).

    ``paths`` are worker-readable file paths (shared FS / fuse mount /
    pre-localized). One archive is parsed by exactly one task.
    """
    return _paths_df(spark, paths).mapInPandas(
        lambda b: _read_archives(b, with_errors=False), schema=PAGES_DDL
    )


def read_warc_errors(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Per-archive triage: pages emitted + first structural error (null
    for clean files). The D2-style companion to ``read_warc`` — corrupt
    deliveries surface as rows, not task failures."""
    return _paths_df(spark, paths).mapInPandas(
        lambda b: _read_archives(b, with_errors=True), schema=_ERRORS_DDL
    )


def write_pages_warc(pages_rows, out_path: str, compress: bool = True) -> int:
    """Export (url, warc_ts, html) rows to one WARC archive (driver-side
    helper for fixtures/tests and small exports). Returns page count."""
    from ocr_agent_spark.kernel.warcfile import write_warc_record

    n = 0
    with open(out_path, "wb") as fh:
        for url, ts, html in pages_rows:
            write_warc_record(fh, url, ts, bytes(html), compress=compress)
            n += 1
    return n


# -- sitemap ingestion: crawl-frontier seeding ------------------------------

SITEMAP_DDL = (
    "sitemap_url string, url string, lastmod timestamp, "
    "changefreq string, priority double"
)


def read_sitemaps(sitemaps: DataFrame,
                  url_col: str = "sitemap_url",
                  payload_col: str = "payload") -> DataFrame:
    """(sitemap_url, payload:binary) rows → frontier url table.

    Emits the page entries of every ``urlset`` document; index files
    contribute nothing here — list their children via
    :func:`sitemap_children`, fetch those payloads, and feed them back
    (the crawler loop the spec defines; nesting is bounded at one
    level). Malformed payloads are skipped (triage belongs to the
    fetch layer); parsing is per-row Python over a tiny sitemap table —
    the OUTPUT urls table is what scales.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_agent_spark.kernel.sitemap import SitemapFormatError, parse_sitemap

        for batch in batches:
            rows: dict[str, list] = {
                "sitemap_url": [], "url": [], "lastmod": [],
                "changefreq": [], "priority": [],
            }
            for src, payload in zip(batch[url_col], batch[payload_col]):
                if payload is None:
                    continue  # failed fetch joined in: skip, don't crash
                try:
                    doc = parse_sitemap(bytes(payload))
                except SitemapFormatError:
                    continue
                for e in doc["entries"]:
                    rows["sitemap_url"].append(src)
                    rows["url"].append(e["url"])
                    rows["lastmod"].append(e["lastmod"])
                    rows["changefreq"].append(e["changefreq"])
                    rows["priority"].append(e["priority"])
            if rows["url"]:
                yield pd.DataFrame(rows)

    return sitemaps.select(url_col, payload_col).mapInPandas(run, SITEMAP_DDL)


def sitemap_children(sitemaps: DataFrame,
                     url_col: str = "sitemap_url",
                     payload_col: str = "payload") -> DataFrame:
    """(sitemap_url, payload) rows → (parent, child_url) for every
    ``sitemapindex`` document — the fetch-next list of the crawler
    loop."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_agent_spark.kernel.sitemap import SitemapFormatError, parse_sitemap

        for batch in batches:
            rows: dict[str, list] = {"parent": [], "child_url": []}
            for src, payload in zip(batch[url_col], batch[payload_col]):
                if payload is None:
                    continue
                try:
                    doc = parse_sitemap(bytes(payload))
                except SitemapFormatError:
                    continue
                for child in doc["children"]:
                    rows["parent"].append(src)
                    rows["child_url"].append(child)
            if rows["parent"]:
                yield pd.DataFrame(rows)

    return sitemaps.select(url_col, payload_col).mapInPandas(
        run, "parent string, child_url string"
    )


# -- WET export / ingest: the extracted-text sidecar -------------------------

WET_DDL = "path string, url string, warc_ts timestamp, text string"
WET_MANIFEST_DDL = "pid int, path string, n_records long, n_bytes long"


def write_wet_shards(docs: DataFrame, out_dir: str, url_col: str = "url",
                     ts_col: str = "warc_ts", text_col: str = "text",
                     num_partitions: int | None = None,
                     compress: bool = True) -> DataFrame:
    """Distributed WET export: one ``.wet.gz`` shard per partition.

    The 100 TB shape — no driver funnel: every task streams its own
    partition's conversion records straight to a shard on the shared
    filesystem (temp name + os.replace, so a dying task never leaves a
    torn file under the manifest name; a retry rewrites identical
    deterministic bytes). Each record is its own gzip member, the same
    splittability contract as the response archives. Returns the
    manifest as per-partition lineage rows
    (pid, path, n_records, n_bytes) — an unconsumed manifest means an
    unwritten shard, never a silent gap.
    """
    import datetime as _dt
    import os

    from ocr_agent_spark.kernel.warcfile import write_wet_record

    os.makedirs(out_dir, exist_ok=True)
    slim = docs.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("warc_ts"),
        F.col(text_col).alias("text"),
    )
    if num_partitions:
        slim = slim.repartition(num_partitions, "url")

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.wet.gz")
        tmp = f"{path}.tmp-{os.getpid()}"
        n = 0
        fh = None
        try:
            for b in batches:
                if fh is None and len(b):
                    fh = open(tmp, "wb")
                for url, ts, text in zip(b["url"], b["warc_ts"], b["text"]):
                    # session tz is UTC (ocr_agent_spark.session), so a
                    # naive pandas timestamp is a UTC wall clock
                    pyts = ts.to_pydatetime()
                    if pyts.tzinfo is None:
                        pyts = pyts.replace(tzinfo=_dt.timezone.utc)
                    write_wet_record(fh, url, pyts, text, compress=compress)
                    n += 1
            if fh is not None:
                fh.close()
                fh = None
                os.replace(tmp, path)
                yield pd.DataFrame({
                    "pid": [pid], "path": [path], "n_records": [n],
                    "n_bytes": [os.path.getsize(path)],
                })
        finally:
            if fh is not None:
                fh.close()

    return slim.mapInPandas(write, WET_MANIFEST_DDL)


def _read_wet_archives(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_agent_spark.kernel.warcfile import iter_wet_texts

    cols = ("path", "url", "warc_ts", "text")
    for batch in batches:
        rows: dict[str, list] = {c: [] for c in cols}
        for path in batch["path"]:
            with open(path, "rb") as fh:
                for url, ts, text in iter_wet_texts(fh):
                    rows["path"].append(path)
                    rows["url"].append(url)
                    rows["warc_ts"].append(ts)
                    rows["text"].append(text)
                    if len(rows["url"]) >= _OUT_BATCH_ROWS:
                        yield pd.DataFrame(rows)
                        rows = {c: [] for c in cols}
        if rows["url"]:
            yield pd.DataFrame(rows)


def read_wet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """WET archives → (path, url, warc_ts, text) DataFrame; one archive
    per task, like ``read_warc``."""
    return _paths_df(spark, paths).mapInPandas(
        _read_wet_archives, WET_DDL
    )
