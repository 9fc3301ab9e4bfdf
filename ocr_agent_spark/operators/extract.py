"""The extraction stage: vectorized kernel over Arrow batches.

Spark translation of the reference's scheduler loop + per-task OCR
(cli.py:222-244 → deepseek_ocr2_runner.py:122-177): instead of one row
at a time in one thread, each partition flows through ``mapInPandas`` —
one Python invocation per Arrow batch, thousands of docs per call, no
per-row Python.

A fused task (``extract_pages_fused``, the job's path) is one scan
split of the pages table, sized by Spark's bytes-per-core rule (see
``session``): no shuffle, and host-level skew cannot concentrate because
nothing is keyed by host. Only giant PDFs are shuffled
(``extract_pages_auto``): each is copied to one shard per core and
range-partitioned on the shard number, so shard s of every document
lands on partition s, and each shard parses the document once and
renders every ``shards``-th page, so one giant PDF's pages spread over
every core.

Failure contract (design rule D2, cli.py:239-243): a document that
fails to parse becomes a row with ``status='failed'`` and
``error=repr(e)``; the batch never throws, so Spark task retries are
reserved for infrastructure faults, not data faults.

Lineage (north rule): each output row carries its physical
``partition_id`` plus the partition's running wall-clock, and the task
itself reports the partition's lineage values (doc count, byte count,
wall time) through a keyed accumulator (``lineage_counter``) once its
last batch is out. The driver reads them when the write returns — no
second pass over the output — and ``lineage_from_extracted`` turns them
into one lineage row per partition.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from datetime import datetime, timezone
from functools import partial
from itertools import repeat

import pandas as pd

from pyspark import Accumulator, AccumulatorParam, SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATUS_COMPLETED = "completed"
STATUS_FAILED = "failed"

class _LineageParam(AccumulatorParam):
    """``partition_id -> (doc_count, byte_count, wall_ms)``. A later
    report for a partition replaces the earlier one, so a recomputed
    partition is never counted twice (Spark already drops the updates
    of failed task attempts)."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def lineage_counter(sc: SparkContext) -> Accumulator:
    """A fresh per-run lineage accumulator for the extraction tasks."""
    return sc.accumulator({}, _LineageParam())


def _report(counter: Accumulator | None, partition_id: int, rows: int,
            nbytes: int, wall_ms: int) -> None:
    """One lineage update per task, after its last batch — and none for
    a partition that emitted no rows (it has no lineage row)."""
    if counter is not None and rows:
        counter.add({partition_id: (rows, nbytes, wall_ms)})


# Max rows buffered before a fused output batch is flushed. Bounds the
# per-task Python-side memory independently of the INPUT batch shape:
# without it, a single low-byte/high-page PDF (bytes are the routing
# heuristic, pages are the memory cost) balloons one output batch to
# its full fan-out. 4096 rows ≈ a few MB of text per flush.
FUSED_OUT_BATCH_ROWS = 4096


def _extract_pages_fused_batches(batches: Iterator[pd.DataFrame],
                                 counter: Accumulator | None = None,
                                 ) -> Iterator[pd.DataFrame]:
    """Fused probe+fan-out+extract over raw pages (runs on executors).

    One Arrow trip: the raw payload enters Python exactly once; page
    counting, pdf page fan-out (1→N row emission) and extraction all
    happen inside the same batch.

    Output batches are flushed every ``FUSED_OUT_BATCH_ROWS`` emitted
    rows — including mid-document, so one degenerate PDF's fan-out
    never accumulates unbounded rows in memory. ``part_wall_ms`` is a
    running clock per task, so ``max()`` per partition is still that
    partition's total wall time; ``counter`` receives exactly those
    values once the last batch is out.

    A batch with ``shard``/``shards`` columns (the giant-PDF branch of
    ``extract_pages_auto``) renders only pages ``p % shards == shard``
    of each row; a document's one-row outcome (a failed parse, a
    zero-page PDF) comes from shard 0 alone.
    """
    from pyspark import TaskContext

    from ocr_agent_spark.kernel.html_extract import extract_html_text
    from ocr_agent_spark.kernel.minipdf import PdfDocument, is_pdf_payload

    ctx = TaskContext.get()
    partition_id = ctx.partitionId() if ctx is not None else -1
    t0 = time.monotonic()
    rows = nbytes = wall_ms = 0

    def new_out():
        return {
            "kind": [], "url": [], "page_index": [], "total_pages": [],
            "created_ts": [], "text": [], "status": [], "error": [],
            "doc_bytes": [],
        }

    out = new_out()

    def emit(kind, url, page_index, total_pages, created_ts, text,
             status, error, nbytes):
        out["kind"].append(kind)
        out["url"].append(url)
        out["page_index"].append(page_index)
        out["total_pages"].append(total_pages)
        out["created_ts"].append(created_ts)
        out["text"].append(text)
        out["status"].append(status)
        out["error"].append(error)
        out["doc_bytes"].append(nbytes)

    def drain() -> pd.DataFrame:
        nonlocal out, rows, nbytes, wall_ms
        df = pd.DataFrame(out)
        wall_ms = int((time.monotonic() - t0) * 1000)
        rows += len(df)
        nbytes += sum(out["doc_bytes"])
        df["partition_id"] = partition_id
        df["part_wall_ms"] = wall_ms
        out = new_out()
        return df

    for batch in batches:
        sharded = "shard" in batch
        for url, created_ts, payload, shard, shards in zip(
            batch["url"], batch["warc_ts"], batch["html"],
            batch["shard"] if sharded else repeat(0),
            batch["shards"] if sharded else repeat(1),
        ):
            if shard and (payload is None or not is_pdf_payload(payload)):
                continue  # a document's one-row outcome comes from shard 0
            if payload is None:  # data fault → failure row, never a crash (D2)
                emit("html", url, 0, None, created_ts, None, STATUS_FAILED,
                     "TypeError('null html payload')", 0)
                continue
            data = bytes(payload)
            n = len(data)
            if not is_pdf_payload(data):
                try:
                    emit("html", url, 0, None, created_ts,
                         extract_html_text(data), STATUS_COMPLETED, None, n)
                except Exception as exc:
                    emit("html", url, 0, None, created_ts,
                         None, STATUS_FAILED, repr(exc), n)
            else:
                try:
                    # One object-table parse per document (per shard),
                    # shared by the count and every page render (the
                    # per-page function would re-parse per page).
                    doc = PdfDocument(data)
                    total = doc.page_count
                    error = None if total > 0 else (
                        "IndexError('page_index 0 out of range "
                        f"for {total}-page PDF')")
                except Exception as exc:
                    total, error = -1, repr(exc)
                if error is not None:  # the document fails whole: one row
                    if not shard:
                        emit("pdf_page", url, 0, total, created_ts, None,
                             STATUS_FAILED, error, n)
                    continue
                for p in range(shard, total, shards):
                    try:
                        text = doc.page_text(p)
                        text = text.rstrip() + "\n" if text.strip() else ""
                        emit("pdf_page", url, p, total, created_ts, text,
                             STATUS_COMPLETED, None, n)
                    except Exception as exc:
                        emit("pdf_page", url, p, total, created_ts, None,
                             STATUS_FAILED, repr(exc), n)
                    if len(out["url"]) >= FUSED_OUT_BATCH_ROWS:
                        yield drain()  # mid-document flush: bounded fan-out
            if len(out["url"]) >= FUSED_OUT_BATCH_ROWS:
                yield drain()
        if out["url"]:
            yield drain()
    _report(counter, partition_id, rows, nbytes, wall_ms)


FUSED_SCHEMA = (
    "kind string, url string, page_index int, total_pages int, "
    "created_ts timestamp, text string, status string, error string, "
    "doc_bytes long, partition_id int, part_wall_ms long"
)


def extract_pages_fused(pages: DataFrame,
                        counter: Accumulator | None = None) -> DataFrame:
    """Raw pages → extracted rows in ONE payload pass (the hot path).

    PDF pages render in plain line order: the golden byte-equality
    contract against the reference fixtures pins that render.

    The binary column is scanned once, crosses into Python once, and is
    never shuffled or joined. No order column — enqueue order IS the
    natural key (url, page_index) (design rule D1: order is data).

    Skew note: a PDF's pages are all emitted by the scan partition that
    holds the PDF (fan-out happens in-batch). Typical web corpora
    (pages ≤ tens) are fine; giant PDFs go through
    ``extract_pages_auto``, which spreads each one's pages over one
    shard per core.

    ``counter`` (from ``lineage_counter``) collects each task's lineage
    values while the plan runs.
    """
    return pages.select("url", "warc_ts", "html").mapInPandas(
        partial(_extract_pages_fused_batches, counter=counter),
        schema=FUSED_SCHEMA,
    )


GIANT_PDF_BYTES = 8_000_000


def giant_pdf_predicate(giant_bytes: int = GIANT_PDF_BYTES,
                        use_meta: bool = False) -> F.Column:
    """True iff the row's payload is a PDF of at least ``giant_bytes``.

    With ``use_meta=True`` the predicate reads the ingest-time slim
    metadata columns (``is_pdf``, ``doc_bytes`` — see
    ``ingest.with_doc_meta``) instead of the payload: the routing
    decision then prunes to two fixed-width columns AND pushes down to
    parquet row-group stats, instead of materializing the fattest
    column in the table a second time.

    NULL-safe either way: a NULL payload is NOT giant (it must flow to
    the fused branch, whose kernel turns it into a failure row) —
    without the coalesce, NULL would fail BOTH branch filters and the
    row would silently vanish from the output.
    """
    if use_meta:
        raw = F.col("is_pdf") & (F.col("doc_bytes") >= giant_bytes)
    else:
        raw = (
            (F.substring(F.col("html"), 1, 4).cast("string") == "%PDF")
            & (F.length(F.col("html")) >= giant_bytes)
        )
    return F.coalesce(raw, F.lit(False))


def extract_pages_auto(pages: DataFrame,
                       giant_bytes: int = GIANT_PDF_BYTES,
                       has_giant: bool | None = None,
                       counter: Accumulator | None = None) -> DataFrame:
    """Fused extraction with giant PDFs spread across the cluster.

    The fused path's one skew hazard: a PDF's pages are all emitted by
    the scan partition holding the payload, so a 10k-page PDF pins one
    task while its siblings finish. So the corpus is SPLIT by a
    pure-JVM predicate — PDF magic AND payload ≥ ``giant_bytes`` — and
    only the giant slice is spread: each giant row is copied to
    K = ``defaultParallelism`` shards, range-partitioned on ``shard``
    into K partitions so that partition s holds shard s of every
    document (a hash of (url, shard) lets shards collide and idles
    cores), and the same fused kernel renders the pages
    ``p % K == shard`` from one parse per shard. The spread follows the
    cluster's size, not ``spark.sql.shuffle.partitions``; the range
    bounds cost one JVM-only sampling job over the giant slice.
    Everything else keeps the zero-shuffle fused plan.

    The byte threshold is deliberately a scan-time expression (no probe
    UDF pass over the whole corpus): page count correlates with payload
    size, and a false positive merely spreads one modest PDF — same
    rows either way (tested).

    Both branches emit FUSED_SCHEMA; ``counter`` is handed to both
    branches' extraction tasks.
    """
    from ocr_agent_spark.operators.ingest import has_doc_meta

    # When ingest persisted slim routing metadata, both the probe and
    # the branch split read (is_pdf, doc_bytes) instead of the payload
    # — the giant-only branch's filter then pushes down to parquet
    # row-group stats and never decodes non-giant payloads.
    is_giant = giant_pdf_predicate(giant_bytes, use_meta=has_doc_meta(pages))
    # Existence check first: the common no-giants corpus keeps the pure
    # fused plan — no split, no shuffle. Callers that already
    # aggregate over the input (run_extraction_job's pending count)
    # pass ``has_giant`` from that same pass so no extra scan happens;
    # standalone callers fall back to a slim (or JVM-only) limit(1) probe.
    if has_giant is None:
        has_giant = pages.filter(is_giant).limit(1).count() > 0
    if not has_giant:
        return extract_pages_fused(pages, counter=counter)

    fused_out = extract_pages_fused(pages.filter(~is_giant), counter=counter)
    shards = pages.sparkSession.sparkContext.defaultParallelism
    spread = pages.filter(is_giant).select(
        "url", "warc_ts", "html",
        F.explode(F.sequence(F.lit(0), F.lit(shards - 1))).alias("shard"),
        F.lit(shards).alias("shards"),
    ).repartitionByRange(shards, "shard")
    giant_out = spread.mapInPandas(
        partial(_extract_pages_fused_batches, counter=counter),
        schema=FUSED_SCHEMA,
    )
    return fused_out.unionByName(giant_out)


def lineage_from_extracted(counts: dict, run_id: str) -> list[dict]:
    """Per-partition lineage rows (north rule A7) from a
    ``lineage_counter``'s value, stamped with the commit time: one row
    per partition that emitted rows, ordered by ``partition_id``.

    Each value is the task's own ``(rows emitted, sum(doc_bytes), last
    part_wall_ms)`` — ``count``, ``sum(doc_bytes)`` and
    ``max(part_wall_ms)`` over the partition's committed rows.
    """
    ts = datetime.now(timezone.utc).isoformat()
    return [
        {"run_id": run_id, "partition_id": pid, "doc_count": docs,
         "byte_count": nbytes, "wall_time_ms": wall_ms, "committed_ts": ts}
        for pid, (docs, nbytes, wall_ms) in sorted(counts.items())
    ]
