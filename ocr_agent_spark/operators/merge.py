"""Ordered global merge: extracted rows → one markdown artifact (A6).

The reference walks all completed tasks in task_id order and
concatenates blocks into one file (markdown_merge.py:18-47). Here one
render-and-write core, ``_write_merged``, builds that artifact:

1. range-partition the slim merge input on ``(url, page_index)`` +
   ``sortWithinPartitions`` — a distributed sort whose partition
   boundaries respect global order. The partition count comes from the
   plan's byte estimate against Spark's advisory partition size
   (``partitioning.partitions_for_bytes``), capped at the shuffle
   parallelism, so a small artifact is one partition;
2. per partition: render every row's block (header + math-normalized
   body) and concat into ONE ``chunk`` row inside
   ``mapInPandas``;
3. on the Spark driver: ``toLocalIterator`` pulls the chunks one
   partition at a time in partition order (= range order) and writes
   the title, the ``"\\n"``-joined chunks and the rstripped tail to a
   file handle.

The in-memory and the on-disk artifact are that core writing to a
``StringIO`` and to a temp file that is renamed over the target, so
they cannot drift apart. Output is byte-identical to a sequential merge
for any partition count (D1 test).
"""

from __future__ import annotations

import io
import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_agent_spark.kernel.merge import DOCUMENT_TITLE
from ocr_agent_spark.partitioning import (
    advisory_partition_bytes,
    partitions_for_bytes,
)

ORDER_COLS = ("url", "page_index")


def _partition_blocks(batches: Iterator[pd.DataFrame],
                      style: str) -> list[str]:
    """One task's rendered blocks, in row order.

    The loop inlines ``render_row_block`` (no per-row dataclass, no
    strip() copy for the blank test, one f-string instead of a
    join-of-7) — measured 1.6× on the bench corpus and pinned
    byte-identical to the kernel function by
    ``test_partition_blocks_matches_render_row_block``.
    """
    from ocr_agent_spark.kernel.mathdown import convert_math_delimiters
    from ocr_agent_spark.kernel.merge import KIND_PDF_PAGE

    blocks: list[str] = []
    for batch in batches:
        for url, kind, page_index, total_pages, text in zip(
            batch["url"], batch["kind"], batch["page_index"],
            batch["total_pages"], batch["text"],
        ):
            if text is None or text == "" or text.isspace():
                continue
            if (kind == KIND_PDF_PAGE and not pd.isna(page_index)
                    and not pd.isna(total_pages)):
                header = (f"## {url} (page {int(page_index) + 1}"
                          f"/{int(total_pages)})")
            else:
                header = f"## {url}"
            body = convert_math_delimiters(text, style)
            blocks.append(f"{header}\n\n\n{body}\n\n---\n")
    return blocks


def _ordered_chunks(extracted: DataFrame, style: str) -> DataFrame:
    """The merge plan: one ``chunk`` row per non-empty range
    partition, partitions sized by the slim input's plan bytes."""
    spark = extracted.sparkSession
    # Column pruning: the merge never needs html/doc_bytes/lineage cols.
    slim = extracted.select(
        "url", "kind", "page_index", "total_pages", "text"
    ).filter(F.col("text").isNotNull())
    n = partitions_for_bytes(
        slim, advisory_partition_bytes(spark),
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocks = _partition_blocks(batches, style)
        if blocks:
            yield pd.DataFrame({"chunk": ["\n".join(blocks)]})

    return (slim.repartitionByRange(n, *ORDER_COLS)
            .sortWithinPartitions(*ORDER_COLS)
            .mapInPandas(render, schema="chunk string"))


def _write_merged(extracted: DataFrame, fh, style: str) -> int:
    """Render the merged artifact into text handle ``fh``; returns the
    UTF-8 bytes written.

    The Spark driver holds one partition's chunk at a time. Trailing-newline
    contract: the artifact ends ``...rstrip() + '\\n'`` exactly like the
    sequential join (markdown_merge.py:47); every chunk contains
    non-whitespace (``---``), so only the last one is held back and
    trimmed.
    """
    written = 0

    def emit(piece: str) -> None:
        nonlocal written
        fh.write(piece)
        written += len(piece.encode("utf-8"))

    emit(DOCUMENT_TITLE + "\n")
    prev: str | None = None
    # toLocalIterator yields partitions in id order, and range
    # partition ids ascend with (url, page_index).
    for row in _ordered_chunks(extracted, style).toLocalIterator():
        if prev is not None:
            emit("\n" + prev)
        prev = row["chunk"]
    if prev is not None:
        emit(("\n" + prev).rstrip() + "\n")
    return written


def merge_extracted_to_markdown(extracted: DataFrame,
                                style: str = "dollar") -> str:
    """Completed extracted rows → single merged markdown string, sorted
    by the natural enqueue order (url, page_index). Holds the whole
    artifact in Spark driver memory; beyond that use
    ``merge_extracted_to_file``."""
    buf = io.StringIO(newline="")
    _write_merged(extracted, buf, style)
    return buf.getvalue()


def merge_extracted_to_file(extracted: DataFrame, path: str,
                            style: str = "dollar") -> int:
    """Write the merged artifact to ``path``; returns bytes written.

    Byte-identical to ``merge_extracted_to_markdown`` with bounded
    Spark driver memory. The bytes go to a temp file renamed over ``path``
    only when complete, so no reader ever sees a torn artifact; on
    failure the temp file is removed and ``path`` is left as it was.
    """
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        with open(tmp, "w", encoding="utf-8", newline="") as fh:
            written = _write_merged(extracted, fh, style)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return written
