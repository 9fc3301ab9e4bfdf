"""Ordered-merge document renderer (pure; the Spark layer feeds it).

Reproduces the reference's merge semantics
(/root/reference/src/ocr_agent/markdown_merge.py:18-47):

- rows rendered strictly in ``(url, page_index)`` order, the order the
  Spark merge sorts by (order is *data*, never execution order — design
  rule D1);
- rows with NULL or whitespace-only text are silently skipped (failed
  rows stay in the table but never reach the artifact — D2);
- per-row section: ``## <url>`` (+ `` (page N/M)`` for pdf pages,
  1-based, markdown_merge.py:149-150), blank line, post-processed text,
  blank line, ``---``, blank line;
- document head: ``# Extracted Output`` + blank line;
- the whole artifact is ``"\n".join(lines).rstrip() + "\n"`` — exactly
  one trailing newline (markdown_merge.py:47).
"""

from __future__ import annotations

from dataclasses import dataclass

from ocr_agent_spark.kernel.mathdown import convert_math_delimiters

DOCUMENT_TITLE = "# Extracted Output"

KIND_HTML = "html"
KIND_PDF_PAGE = "pdf_page"


@dataclass(frozen=True)
class MergeRow:
    url: str
    kind: str
    page_index: int | None
    total_pages: int | None
    text: str | None


def render_section_header(
    url: str, kind: str, page_index: int | None, total_pages: int | None
) -> str:
    if kind == KIND_PDF_PAGE and page_index is not None and total_pages is not None:
        return f"## {url} (page {page_index + 1}/{total_pages})"
    return f"## {url}"


def render_row_block(row: MergeRow, style: str | None = "dollar") -> str | None:
    """One row → its merge block (joined by '\\n'), or None if skipped."""
    if row.text is None or row.text.strip() == "":
        return None
    header = render_section_header(row.url, row.kind, row.page_index, row.total_pages)
    body = convert_math_delimiters(row.text, style)
    return "\n".join([header, "", "", body, "", "---", ""])


def render_merged_markdown(
    rows_in_order: list[MergeRow], style: str | None = "dollar"
) -> str:
    parts = [DOCUMENT_TITLE, ""]
    for row in rows_in_order:
        block = render_row_block(row, style)
        if block is not None:
            parts.append(block)
    return "\n".join(parts).rstrip() + "\n"
