"""End-to-end extraction job: pages → extract (fused) → commit → merge.

The Spark translation of ``cli.py enqueue`` + ``cli.py run`` (SURVEY
§3.1–3.2) as one resumable batch job. The hot path is the FUSED
extractor: the binary payload is scanned once, crosses the JVM→Python
boundary once, and is never shuffled or joined. A run is one
aggregate, one write and one manifest publish —

    1. one slim aggregate: total, pending count, giant-PDF bit
       (payload-free when the input carries ingest metadata)
    2. one write: pages ─ anti-join committed urls ─ mapInPandas
       (probe + pdf fan-out + extract, one pass; each task reports its
       partition's lineage to an accumulator) ─ parquet run dir
    3. publish: the lineage rows go to the run dir's ``_lineage.json``,
       then the manifest makes data and lineage visible together

and the ordered merge reads the committed table afterwards.

Resume contract: re-running with the same ``output_root`` processes
only pages whose url is absent from the last committed snapshot — url
granularity is exact because commits are atomic (a PDF's pages are
never partially committed). Zero-pending is a no-op. Empty input
raises (exit-code-2 guard, cli.py:187-192 / A3).

Order contract (D1): enqueue order is the natural key
(url, page_index), the role the reference queue's AUTOINCREMENT
task_id plays as an ORDER BY key; the merge sorts by it. There is no
dense order column — order is data, never execution order.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime

from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_agent_spark.operators.extract import (
    extract_pages_auto,
    giant_pdf_predicate,
    lineage_counter,
    lineage_from_extracted,
)
from ocr_agent_spark.operators.ingest import has_doc_meta
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
    """The separate lineage table of job roots written before lineage
    moved into the run dirs. Read-only: nothing writes to it any more."""
    return SnapshotStore(os.path.join(output_root, "lineage"))


def legacy_lineage_store(output_root: str) -> SnapshotStore | None:
    """``lineage_store`` if this root has one (without creating it)."""
    if not os.path.isdir(os.path.join(output_root, "lineage", "_snapshots")):
        return None
    store = lineage_store(output_root)
    return store if store.latest_manifest() is not None else None


LINEAGE_SCHEMA = (
    "run_id string, partition_id int, doc_count long, byte_count long, "
    "wall_time_ms long, committed_ts timestamp"
)


def commit_run(
    spark: SparkSession,
    store: SnapshotStore,
    run_id: str,
    extract: Callable[[Accumulator], DataFrame],
    settings: dict | None = None,
) -> None:
    """The one commit path: ``extract(counter)`` builds the extraction
    plan with a fresh lineage counter, and one ``store.commit`` writes
    it, then the counter's lineage rows, then publishes both."""
    counter = lineage_counter(spark.sparkContext)
    try:
        store.commit(
            extract(counter), run_id=run_id, settings=settings,
            lineage=lambda: lineage_from_extracted(counter.value, run_id),
        )
    finally:
        # The session's accumulator registry keeps every counter: drop
        # the per-partition values once they are on disk.
        counter.value = {}


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_root: str,
    run_id: str | None = None,
    settings: dict | None = None,
) -> RunResult:
    run_id = run_id or uuid.uuid4().hex[:12]
    store = extraction_store(output_root)

    stats = _run_stats(pages, store.read(spark)).first()
    total, n_pending = stats["total"], stats["n_pending"] or 0
    if total == 0:
        raise EmptyInputError("no supported input rows to enqueue")
    if n_pending == 0:
        return RunResult(run_id, total, 0, total)

    pending = store.anti_join_committed(pages, RESUME_KEYS, spark)
    # Auto-routed: fused single-pass extraction, with giant PDFs (the
    # one fused-path skew hazard) sharded over the cores so their pages
    # spread across the cluster.
    commit_run(
        spark, store, run_id,
        lambda counter: extract_pages_auto(
            pending, has_giant=bool(stats["giant"]), counter=counter),
        settings=settings,
    )
    return RunResult(run_id, total, n_pending, total - n_pending)


def _run_stats(pages: DataFrame, committed: DataFrame | None) -> DataFrame:
    """The run's ONE aggregate: ``total`` input rows, ``n_pending`` rows
    whose url is not committed yet, and ``giant`` — whether any pending
    row is a giant PDF (the router's probe, folded into the count).

    On a resumed root each input row is pending unless its url is IN
    the committed urls; Catalyst plans the IN subquery as an
    ``ExistenceJoin``, which emits each input row once however many
    committed rows share its url (a multi-page PDF), so the committed
    side needs no ``distinct()`` aggregate and shuffle. A NULL url
    matches nothing and stays pending (the ``coalesce``: SQL's IN is
    NULL there). The subquery is uncorrelated on purpose: Spark 4.1
    fails to optimize a correlated EXISTS in a projection over a union
    input (``PushProjectionThroughUnion``: key not found), and the CLI
    unions its WARC and parquet inputs. When the input carries
    ingest-time routing metadata (``with_doc_meta``: doc_bytes, is_pdf —
    the fixture corpus and any production ingest persist them), the
    aggregate prunes to slim fixed-width columns and never touches the
    payload (plan-asserted in tests/test_plans.py); only a raw 5-column
    input-hint-shaped table pays one payload scan here.
    """
    giant = giant_pdf_predicate(use_meta=has_doc_meta(pages))
    if committed is None:
        pending = F.lit(True)
    else:
        (key,) = RESUME_KEYS
        pages = pages.withColumn("_pending", ~F.coalesce(
            F.col(key).isin(committed.select(key)), F.lit(False)))
        pending = F.col("_pending")
    return pages.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(pending.cast("long")).alias("n_pending"),
        F.coalesce(F.max((pending & giant).cast("int")), F.lit(0))
        .cast("boolean").alias("giant"),
    )


def read_extracted(spark: SparkSession, output_root: str) -> DataFrame | None:
    return extraction_store(output_root).read(spark)


def read_lineage(spark: SparkSession, output_root: str) -> DataFrame | None:
    """Lineage rows of the live runs (each run dir's ``_lineage.json``),
    plus a pre-sidecar root's ``lineage_store``; None when there are none."""
    rows = [
        (r["run_id"], r["partition_id"], r["doc_count"], r["byte_count"],
         r["wall_time_ms"], datetime.fromisoformat(r["committed_ts"]))
        for r in extraction_store(output_root).lineage()
    ]
    legacy = legacy_lineage_store(output_root)
    if legacy is None and not rows:
        return None
    lineage = spark.createDataFrame(rows, LINEAGE_SCHEMA)
    if legacy is not None:
        lineage = legacy.read(spark).unionByName(lineage)
    return lineage


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
