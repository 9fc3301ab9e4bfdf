"""Ingestion helpers: routing metadata and the dense order key.

- ``with_doc_meta`` adds slim routing metadata (``doc_bytes``,
  ``is_pdf``) from the payload once, at ingest time, so the job's
  giant-PDF routing reads two fixed-width columns instead of the
  payload.
- ``assign_order_key`` is the deterministic ``order_key`` replacing the
  reference's AUTOINCREMENT task_id (W1): assigned from content order
  (url, page_index), never from arrival or partition order, so it is
  identical under any parallelism (design rule D1).
  ``pipeline.attach_order_key`` applies it to committed output.

Scale note: a naive ``row_number().over(Window.orderBy())`` collapses
the whole table into ONE partition. ``assign_order_key`` instead
range-partitions by the sort key, enumerates per-partition inside
``mapInPandas`` (vectorized arange — no second shuffle, unlike a window
over the partition id), and adds per-partition offsets from a tiny count
aggregate (two-phase global sequence). Only one count per partition
ever reaches a broadcast.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
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


BROADCAST_KEY_LIMIT = 5_000_000


def assign_order_key(
    df: DataFrame,
    sort_cols: tuple[str, ...] = ("url", "page_index"),
    order_partitions: int | None = None,
) -> DataFrame:
    """Two-phase scalable global sequence over ``sort_cols``.

    Phase 1: range-partition + sort on the key, then enumerate rows per
    physical partition inside ``mapInPandas`` (vectorized ``arange``) —
    unlike a window over ``spark_partition_id`` this adds NO second
    shuffle, because enumeration happens on the already-range-
    partitioned stream.
    Phase 2: one count per partition (tiny) → cumulative offsets →
    broadcast join. order_key = offset + local index.

    The numbered intermediate is persisted so the offsets pass does not
    recompute the input lineage (it may contain a pandas UDF).
    """
    from collections.abc import Iterator

    from pyspark.sql.types import IntegerType as _Int
    from pyspark.sql.types import LongType as _Long
    from pyspark.sql.types import StructField, StructType

    spark = df.sparkSession
    if order_partitions is None:
        order_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    ranged = df.repartitionByRange(
        order_partitions, *[F.col(c) for c in sort_cols]
    ).sortWithinPartitions(*[F.col(c) for c in sort_cols])

    # Copy: StructType.add mutates in place, and ranged.schema is the
    # DataFrame's own schema object.
    out_schema = StructType(
        list(ranged.schema.fields)
        + [StructField("_pid", _Int()), StructField("_local_rn", _Long())]
    )

    def enumerate_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        seen = 0
        for batch in batches:
            batch = batch.copy()
            batch["_pid"] = pid
            batch["_local_rn"] = range(seen + 1, seen + 1 + len(batch))
            seen += len(batch)
            yield batch

    from ocr_agent_spark.cache import persist_tracked

    numbered = persist_tracked(ranged.mapInPandas(enumerate_partition, schema=out_schema))

    # Tiny aggregate: one row per partition → cumulative offsets.
    offsets_win = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = (
        numbered.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_offset", F.coalesce(F.sum("_cnt").over(offsets_win), F.lit(0)))
        .select("_pid", "_offset")
    )

    return (
        numbered.join(F.broadcast(offsets), "_pid")
        .withColumn("order_key", (F.col("_offset") + F.col("_local_rn")).cast("long"))
        .drop("_pid", "_local_rn", "_offset")
    )
