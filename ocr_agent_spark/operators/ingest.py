"""Ingest-time routing metadata.

``with_doc_meta`` adds slim routing metadata (``doc_bytes``,
``is_pdf``) from the payload once, at ingest time, so the job's
giant-PDF routing reads two fixed-width columns instead of the
payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOC_META_COLS = ("doc_bytes", "is_pdf")


def with_doc_meta(pages: DataFrame) -> DataFrame:
    """Add slim routing metadata (``doc_bytes``, ``is_pdf``) from the payload.

    Apply ONCE at ingest time (when the corpus lands in the table) and
    persist the columns. Every later job decision that only needs
    payload *shape* — the pending-stats aggregate's giant-PDF bit, the
    router's giant-PDF split — then prunes to these two slim columns
    instead of re-materializing the fattest column in the table, and
    the giant-only branch's filter pushes down to parquet row-group
    stats. At 100 TB this is the difference between a
    metadata-only routing pass and a second full payload scan per run.

    NULL-safe: a NULL payload gets ``doc_bytes=0`` / ``is_pdf=false``
    so it routes to the fused branch, whose kernel emits the failure
    row (same rule as ``giant_pdf_predicate``).
    """
    return pages.withColumn(
        "doc_bytes",
        F.coalesce(F.length(F.col("html")).cast("long"), F.lit(0).cast("long")),
    ).withColumn(
        "is_pdf",
        F.coalesce(
            F.substring(F.col("html"), 1, 4).cast("string") == "%PDF",
            F.lit(False),
        ),
    )


def has_doc_meta(df: DataFrame) -> bool:
    return all(c in df.columns for c in DOC_META_COLS)
