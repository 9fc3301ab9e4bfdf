"""Sequential driver-side oracle: what the job must commit and merge.

Runs the program's pure kernels (``kernel.html_extract``,
``kernel.minipdf``, ``kernel.mathdown`` through ``kernel.merge``) one
document at a time in this process, with no Spark involved, and derives:

- the sha256 and byte length of the merged markdown artifact;
- the committed ``(kind, status)`` row counts of the whole table;
- the documents and task rows the timed job itself commits.

The same pass doubles as the single-thread kernel measurement of the
traced run: each kernel call is timed and counted.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

from ocr_agent_spark.kernel.html_extract import extract_html_text
from ocr_agent_spark.kernel.mathdown import convert_math_delimiters
from ocr_agent_spark.kernel.merge import MergeRow, render_merged_markdown
from ocr_agent_spark.kernel.minipdf import PdfDocument, is_pdf_payload

from perfbench.corpus import Corpus


@dataclass
class KernelStats:
    html_docs: int = 0
    html_busy_s: float = 0.0
    pdf_pages: int = 0
    pdf_busy_s: float = 0.0
    mathdown_busy_s: float = 0.0


@dataclass
class Expected:
    merged_sha256: str
    merged_bytes: int
    counts: dict[str, int]        # "kind/status" -> rows, whole table
    pending_docs: int             # documents the timed job extracts
    pending_rows: int             # task rows the timed job commits
    kernels: KernelStats = field(default_factory=KernelStats)

    def pin(self) -> dict:
        return {"merged_sha256": self.merged_sha256,
                "merged_bytes": self.merged_bytes,
                "counts": self.counts, "pending_docs": self.pending_docs,
                "pending_rows": self.pending_rows}


def _doc_rows(url: str, payload: bytes | None, stats: KernelStats,
              timed: bool) -> list[tuple]:
    """(url, kind, page_index, total_pages, text, status) per task row,
    following the fused extractor's row contract."""
    if payload is None:
        return [(url, "html", 0, None, None, "failed")]
    if not is_pdf_payload(payload):
        t0 = time.perf_counter()
        try:
            row = (url, "html", 0, None, extract_html_text(payload), "completed")
        except Exception:  # data fault: a failure row, as in the job
            row = (url, "html", 0, None, None, "failed")
        if timed:
            stats.html_busy_s += time.perf_counter() - t0
            stats.html_docs += 1
        return [row]
    t0 = time.perf_counter()
    rows = []
    try:
        doc = PdfDocument(payload)
        total = doc.page_count
    except Exception:
        rows = [(url, "pdf_page", 0, -1, None, "failed")]
        total = 0
    if not rows and total <= 0:
        rows = [(url, "pdf_page", 0, total, None, "failed")]
    for p in range(total):
        try:
            text = doc.page_text(p)
            text = text.rstrip() + "\n" if text.strip() else ""
            rows.append((url, "pdf_page", p, total, text, "completed"))
        except Exception:
            rows.append((url, "pdf_page", p, total, None, "failed"))
    if timed:
        stats.pdf_busy_s += time.perf_counter() - t0
        stats.pdf_pages += max(total, 0)
    return rows


def expected_outputs(corpus: Corpus) -> Expected:
    stats = KernelStats()
    pending = set(corpus.pending)
    rows: list[tuple] = []
    pending_rows = 0
    for i, doc in enumerate(corpus.docs):
        out = _doc_rows(doc.url, doc.html, stats, timed=i in pending)
        rows.extend(out)
        if i in pending:
            pending_rows += len(out)

    counts: dict[str, int] = {}
    for r in rows:
        key = f"{r[1]}/{r[5]}"
        counts[key] = counts.get(key, 0) + 1

    rows.sort(key=lambda r: (r[0], r[2]))
    t0 = time.perf_counter()
    for r in rows:  # the merge's math rewrite over the blocks it renders
        if r[4] and not r[4].isspace():
            convert_math_delimiters(r[4], "dollar")
    stats.mathdown_busy_s = time.perf_counter() - t0
    merged = render_merged_markdown(
        [MergeRow(r[0], r[1], r[2], r[3], r[4]) for r in rows], style="dollar"
    ).encode("utf-8")
    return Expected(
        merged_sha256=hashlib.sha256(merged).hexdigest(),
        merged_bytes=len(merged),
        counts=dict(sorted(counts.items())),
        pending_docs=len(pending),
        pending_rows=pending_rows,
        kernels=stats,
    )
