"""PDF layout modes: the Spark extraction path renders plain line order,
and the kernel's column-aware mode is available on the document handle."""

import datetime


def _normalized(text: str) -> str:
    # the fused kernel's page-text normalization
    return text.rstrip() + "\n" if text.strip() else ""


def test_fused_extraction_pdf_columns_mode(spark):
    from ocr_agent_spark.kernel import build_pdf_positioned
    from ocr_agent_spark.kernel.minipdf import PdfDocument
    from ocr_agent_spark.operators.extract import extract_pages_fused

    chunks = [(72, 720, "left a"), (72, 706, "left b"),
              (350, 720, "right a"), (350, 706, "right b")]
    data = build_pdf_positioned([chunks])
    ts = datetime.datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [("https://x.example/two-col.pdf", ts, bytearray(data))],
        "url string, warc_ts timestamp, html binary",
    )
    plain = extract_pages_fused(pages).collect()[0]["text"]
    assert plain == "left a right a\nleft b right b\n"
    cols = _normalized(PdfDocument(data).page_text(0, columns=True))
    assert cols == "left a\nleft b\n\nright a\nright b\n"


def test_fused_columns_mode_identical_on_single_column_corpus(spark):
    """On a single-column corpus (the golden fixtures' shape) the
    column-aware layout mode renders every PDF page exactly as the
    Spark path's plain mode does."""
    from ocr_agent_spark.fixtures import generate_pages, pages_dataframe
    from ocr_agent_spark.kernel.minipdf import PdfDocument, is_pdf_payload
    from ocr_agent_spark.operators.extract import extract_pages_fused

    n = 30
    pages = pages_dataframe(spark, n)
    rows = extract_pages_fused(pages).collect()
    plain = {(r["url"], r["page_index"]): r["text"]
             for r in rows if r["kind"] == "pdf_page"}
    cols = {}
    for page in generate_pages(n):
        if is_pdf_payload(page.html):
            doc = PdfDocument(page.html)
            for p in range(doc.page_count):
                cols[(page.url, p)] = _normalized(doc.page_text(p, columns=True))
    assert cols and plain == cols
    assert {r["status"] for r in rows} == {"completed"}
    assert pages.count() <= len(rows)  # pdf fan-out only adds rows
