"""Deterministic synthetic `pages` corpus (BASELINE.json input_hint shape).

Schema (exact): ``url:string, warc_ts:timestamp, html:binary,
text:string, lang:string``. ~7% of rows carry a minimal PDF payload in
the ``html`` column instead of HTML (kind inferred downstream from the
``%PDF`` magic), mirroring the reference's image/pdf task split
(/root/reference/src/ocr_agent/input_discovery.py:41-53).

Determinism rules:
- every row is generated from its own ``random.Random(f"{seed}:{i}")``
  stream, so row *i* is byte-identical no matter how many rows are
  generated, in what order, or on which worker — this is what lets the
  generator run distributed (mapInPandas over an id range) and still
  produce the same corpus as a driver-side loop;
- no wall-clock anywhere: ``warc_ts`` is a fixed base + i seconds.

Hosts follow a skewed (Zipf-ish) distribution — ~35% of docs land on
``host0`` — so partition/skew handling is actually exercised.

Recoverable content markers ``DOC_{i}_PARA_{j}`` / ``DOC_{i}_PAGE_{p}``
play the role of the reference's ``HELLO_DEEPSEEK_OCR2_12345`` fixture
marker (/root/reference/tests/test_synthetic_ocr.py:21).
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass

from ocr_agent_spark.kernel.minipdf import build_pdf

WARC_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis "
    "nostrud exercitation ullamco laboris nisi aliquip commodo consequat"
).split()

_LANGS = ("en", "ja", "de")


@dataclass(frozen=True)
class PageRecord:
    url: str
    warc_ts: _dt.datetime
    html: bytes
    text: str | None
    lang: str


def _host_for(rng: random.Random, n_hosts: int) -> int:
    # Skewed: host0 is a heavy hitter; the rest uniform-ish.
    r = rng.random()
    if r < 0.35:
        return 0
    if r < 0.50:
        return 1
    return rng.randrange(2, max(3, n_hosts))


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _make_html(rng: random.Random, i: int, lang: str) -> tuple[bytes, str]:
    n_paras = rng.randint(2, 6)
    paras = []
    for j in range(n_paras):
        body = _sentence(rng, rng.randint(14, 40))
        marker = f"DOC_{i}_PARA_{j}"
        extra = ""
        if rng.random() < 0.15:
            extra = f" inline math \\( x_{{{j}}} + {i} \\) appears here and"
        paras.append(f"{body} {marker}{extra} {_sentence(rng, rng.randint(8, 20))}")
    nav_links = "".join(
        f'<li><a href="/nav/{k}">Navigation link {k} home about</a></li>'
        for k in range(rng.randint(4, 9))
    )
    footer_links = "".join(
        f'<a href="/f/{k}">footer item {k}</a> | ' for k in range(rng.randint(3, 6))
    )
    sidebar = "".join(
        f'<a href="/rel/{k}">related story {k} click here</a><br/>'
        for k in range(rng.randint(3, 7))
    )
    title = f"Synthetic Document {i}"
    heading = f"Main article {i}"
    para_html = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        f"<html><head><title>{title}</title>"
        f"<script>var x = 'boilerplate {i}';</script>"
        f"<style>.x{{color:red}}</style></head><body>"
        f"<nav><ul>{nav_links}</ul></nav>"
        f"<header><div>Site chrome banner {i} subscribe now</div></header>"
        f"<main><article><h1>{heading}</h1>{para_html}</article></main>"
        f"<aside>{sidebar}</aside>"
        f"<footer>{footer_links}</footer>"
        f"</body></html>"
    )
    raw_text = " ".join(paras)
    return html.encode("utf-8"), raw_text


def _make_pdf(rng: random.Random, i: int) -> tuple[bytes, str]:
    n_pages = rng.randint(1, 4)
    pages = []
    for p in range(n_pages):
        lines = [f"DOC_{i}_PAGE_{p}"]
        for k in range(rng.randint(3, 8)):
            lines.append(f"{_sentence(rng, rng.randint(5, 11))} L{k}")
        pages.append(lines)
    raw_text = " ".join(" ".join(ls) for ls in pages)
    return build_pdf(pages, compress=(rng.random() < 0.5)), raw_text


def generate_page(i: int, seed: int = 42, pdf_fraction: float = 0.07,
                  n_hosts: int = 20) -> PageRecord:
    rng = random.Random(f"{seed}:{i}")
    host = _host_for(rng, n_hosts)
    lang = rng.choice(_LANGS)
    is_pdf = rng.random() < pdf_fraction
    if is_pdf:
        payload, raw_text = _make_pdf(rng, i)
        path_kind = "pdf"
    else:
        payload, raw_text = _make_html(rng, i, lang)
        path_kind = "page"
    # Nullable pre-extraction text dump (input_hint: text is nullable).
    text = raw_text if rng.random() < 0.8 else None
    return PageRecord(
        url=f"https://host{host}.example/{path_kind}/{i:08d}",
        warc_ts=WARC_EPOCH + _dt.timedelta(seconds=i),
        html=payload,
        text=text,
        lang=lang,
    )


def generate_pages(n: int, seed: int = 42, pdf_fraction: float = 0.07) -> list[PageRecord]:
    return [generate_page(i, seed=seed, pdf_fraction=pdf_fraction) for i in range(n)]


PAGES_ARROW_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def write_pages_parquet(path: str, n: int, seed: int = 42,
                        pdf_fraction: float = 0.07, rows_per_file: int = 5000,
                        row_group_rows: int = 512,
                        with_meta: bool = True) -> None:
    """Materialize the corpus as parquet via pyarrow (no Spark needed).

    Row groups are kept small (512 rows/group ≈ 2 MB) so the Spark scan
    can split a file: a split is a range of row groups, and one huge
    row group makes the whole source read a single task regardless of
    cluster size. Spark packs whole files into splits by its
    bytes-per-core rule (see ``session``), so a small ``rows_per_file``
    writes many small files that still read as about one split per core.

    ``with_meta`` persists the ingest-time slim routing columns
    (``doc_bytes``, ``is_pdf`` — see ``operators.ingest.with_doc_meta``)
    alongside the input-hint shape, so the extraction job's pending
    stats and giant-PDF routing prune to metadata instead of re-reading
    the payload. Pass ``with_meta=False`` for the raw 5-column
    input-hint shape (the job accepts both; tested both ways).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(path, exist_ok=True)
    fields = [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
    if with_meta:
        fields += [("doc_bytes", pa.int64()), ("is_pdf", pa.bool_())]
    schema = pa.schema(fields)
    file_idx = 0
    for start in range(0, n, rows_per_file):
        stop = min(start + rows_per_file, n)
        records = [generate_page(i, seed=seed, pdf_fraction=pdf_fraction)
                   for i in range(start, stop)]
        cols = {
            "url": [r.url for r in records],
            "warc_ts": [r.warc_ts for r in records],
            "html": [r.html for r in records],
            "text": [r.text for r in records],
            "lang": [r.lang for r in records],
        }
        if with_meta:
            cols["doc_bytes"] = [
                len(r.html) if r.html is not None else 0 for r in records
            ]
            cols["is_pdf"] = [
                (r.html or b"")[:4] == b"%PDF" for r in records
            ]
        table = pa.Table.from_pydict(cols, schema=schema)
        pq.write_table(
            table,
            os.path.join(path, f"part-{file_idx:05d}.parquet"),
            row_group_size=row_group_rows,
        )
        file_idx += 1


def pages_dataframe(spark, n: int, seed: int = 42, pdf_fraction: float = 0.07):
    """Small-n helper: corpus as a Spark DataFrame (driver-side gen)."""
    records = generate_pages(n, seed=seed, pdf_fraction=pdf_fraction)
    return spark.createDataFrame(
        [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in records],
        schema=PAGES_ARROW_SCHEMA_DDL,
    )
