"""End-to-end extraction job: pages → extract (fused) → commit → merge.

The Spark translation of ``cli.py enqueue`` + ``cli.py run`` (SURVEY
§3.1–3.2) as one resumable batch job. The hot path is the FUSED
extractor: the binary payload is scanned once, crosses the JVM→Python
boundary once, and is never shuffled or joined —

    pages parquet ─ anti-join committed urls ─ mapInPandas
        (probe + pdf fan-out + extract, one pass) ─ commit snapshot
        (+ per-partition lineage) ─ ordered merge

Resume contract: re-running with the same ``output_root`` processes
only pages whose url is absent from the last committed snapshot — url
granularity is exact because commits are atomic (a PDF's pages are
never partially committed). Zero-pending is a no-op. Empty input
raises (exit-code-2 guard, cli.py:187-192 / A3).

Order contract (D1): enqueue order is the natural key
(url, page_index); the merge sorts by it. The dense ``order_key`` of
the reference's task table lives in the staged path
(``build_task_table``) and is derivable from committed output via
``attach_order_key`` — order is data, never execution order.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_agent_spark.cache import cache_scope
from ocr_agent_spark.operators.extract import (
    extract_pages_auto,
    giant_pdf_predicate,
    lineage_from_extracted,
)
from ocr_agent_spark.operators.ingest import (
    BROADCAST_KEY_LIMIT,
    assign_order_key,
    has_doc_meta,
)
from ocr_agent_spark.operators.merge import (
    merge_extracted_to_file,
    merge_extracted_to_markdown,
)
from ocr_agent_spark.sources.snapshot import SnapshotStore

RESUME_KEYS = ["url"]


class EmptyInputError(ValueError):
    """No supported input rows (reference exit code 2, cli.py:32,187-192)."""


@dataclass
class RunResult:
    run_id: str
    pages_total: int
    pages_processed: int
    pages_skipped_committed: int


def extraction_store(output_root: str) -> SnapshotStore:
    return SnapshotStore(os.path.join(output_root, "extracted"))


def lineage_store(output_root: str) -> SnapshotStore:
    return SnapshotStore(os.path.join(output_root, "lineage"))


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_root: str,
    run_id: str | None = None,
    settings: dict | None = None,
) -> RunResult:
    # cache_scope: release only the intermediates THIS job persisted —
    # a caller's own tracked caches (e.g. an unmaterialized dedup
    # result) survive the job (ADVICE r2).
    with cache_scope():
        return _run_extraction_job(
            spark, pages, output_root, run_id, settings
        )


def _run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_root: str,
    run_id: str | None = None,
    settings: dict | None = None,
) -> RunResult:
    run_id = run_id or uuid.uuid4().hex[:12]
    store = extraction_store(output_root)

    total = pages.count()
    if total == 0:
        raise EmptyInputError("no supported input rows to enqueue")

    pending = store.anti_join_committed(pages, RESUME_KEYS, spark)
    # ONE pass computes the pending count AND the giant-PDF existence
    # bit (folding the router's probe into the count the job already
    # pays). When the input carries ingest-time routing metadata
    # (``with_doc_meta``: doc_bytes, is_pdf — the fixture corpus and
    # any production ingest persist them), this aggregate prunes to two
    # slim fixed-width columns and never touches the payload
    # (plan-asserted in tests/test_plans.py); only a raw 5-column
    # input-hint-shaped table pays one payload scan here.
    use_meta = has_doc_meta(pending)
    stats = pending.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(giant_pdf_predicate(use_meta=use_meta).cast("int")).alias("g"),
    ).first()
    n_pending = stats["n"]
    if n_pending == 0:
        return RunResult(run_id, total, 0, total)

    # Auto-routed: fused single-pass extraction, with giant PDFs (the
    # one fused-path skew hazard) diverted to the staged explode+shuffle
    # path so their pages spread across the cluster.
    extracted = extract_pages_auto(pending, has_giant=bool(stats["g"] or 0))
    # Snapshot-commit the extraction output, then derive lineage from
    # the committed files (re-read, not recompute — the expensive
    # kernel runs exactly once).
    store.commit(extracted, run_id=run_id, settings=settings)
    committed = spark.read.parquet(os.path.join(store.data_dir, run_id))
    lineage_store(output_root).commit(
        lineage_from_extracted(committed, run_id), run_id=run_id
    )
    return RunResult(run_id, total, n_pending, total - n_pending)


def read_extracted(spark: SparkSession, output_root: str) -> DataFrame | None:
    return extraction_store(output_root).read(spark)


def attach_order_key(extracted: DataFrame) -> DataFrame:
    """Dense 1..N order_key over committed output (payload-free).

    Derivable data: the key follows (url, page_index) exactly as the
    staged queue table's AUTOINCREMENT analogue. Broadcast-attached
    when small; slim shuffle join otherwise.
    """
    from ocr_agent_spark.cache import persist_tracked

    slim = persist_tracked(extracted.select("url", "page_index"))
    n = slim.count()
    keyed = assign_order_key(slim)
    if n <= BROADCAST_KEY_LIMIT:
        keyed = F.broadcast(keyed)
    return extracted.join(keyed, ["url", "page_index"])


def read_lineage(spark: SparkSession, output_root: str) -> DataFrame | None:
    return lineage_store(output_root).read(spark)


def merge_job(
    spark: SparkSession,
    output_root: str,
    style: str = "dollar",
    merged_path: str | None = None,
    return_text: bool = True,
) -> str:
    """Merge committed output into one markdown artifact.

    With ``merged_path`` the artifact is written by
    ``merge_extracted_to_file``: streamed one range partition at a time
    into a temp file that replaces ``merged_path`` atomically. Pass
    ``return_text=False`` (the CLI does) to skip reading the file back
    and get ``""``. Without ``merged_path`` the same render-and-write
    core writes to memory and the text is returned.
    """
    extracted = read_extracted(spark, output_root)
    if extracted is None:
        raise EmptyInputError("nothing committed yet")
    if merged_path is not None:
        merge_extracted_to_file(extracted, merged_path, style=style)
        if not return_text:
            return ""
        with open(merged_path, encoding="utf-8", newline="") as fh:
            return fh.read()
    return merge_extracted_to_markdown(extracted, style=style)
