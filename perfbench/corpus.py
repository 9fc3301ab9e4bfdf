"""Seeded input corpora for the extraction-job benchmark.

Every corpus is a pure function of ``(workload, seed)``: the same seed
always yields byte-identical parquet. The workloads share one
Common-Crawl shape — 1300 HTML pages and 100 short PDFs (~7%) on
Zipf-skewed hosts — and differ in the job root the timed job starts
from (``Spec``). Totals that set the amount of work (document count,
HTML/PDF split, PDF page counts, fault count) are fixed and only their
placement and the text content follow the seed, so two seeds cost the
same to process and differ only in noise.
Each workload has ``SEEDS`` corpora, seeds ``0 .. SEEDS-1``, whose
expected outputs are pinned in ``perfbench/expected.json``.

HTML pages come from ``ocr_agent_spark.fixtures._make_html``, the
generator behind ``fixtures.generate_page``; PDFs are built here, with
the page count as a parameter.

Shape (the ``pages`` input of ``pipeline.run_extraction_job``)::

    url string, warc_ts timestamp, html binary, text string, lang string,
    doc_bytes long, is_pdf boolean

Each corpus carries ``FAULTS_PER_KIND`` extra documents of each data
fault — null payload, truncated PDF and ``%PDF`` garbage — so the
extractor's failure-row path runs on every workload and the failed-row
count is exact.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from dataclasses import dataclass

from ocr_agent_spark.fixtures import WARC_EPOCH, _LANGS, _make_html, _sentence
from ocr_agent_spark.kernel.minipdf import build_pdf

SEEDS = 100

FAULT_KINDS = ("null_payload", "truncated_pdf", "garbage_pdf")
FAULTS_PER_KIND = 3

# ~93% HTML, ~7% short PDFs: the Common-Crawl shape.
HTML_DOCS = 1300
PDF_PAGES = [1 + i % 4 for i in range(100)]  # one entry per PDF: its page count
LINES_PER_PAGE = (3, 8)
ROWS_PER_FILE = 250  # input parquet rows per file
ROW_GROUP_ROWS = 128


@dataclass(frozen=True)
class Spec:
    """Where a workload's timed job starts (fixed; the seed never changes it)."""

    pending_fraction: float = 1.0  # share of docs the timed job extracts
    prior_runs: int = 0            # run dirs committed before the timed job


WORKLOADS: dict[str, Spec] = {
    "html_crawl": Spec(),  # a fresh job: empty job root
    "resume_merge": Spec(pending_fraction=0.10, prior_runs=3),
}


@dataclass
class Doc:
    url: str
    warc_ts: _dt.datetime
    html: bytes | None
    text: str | None
    lang: str


@dataclass
class Corpus:
    docs: list[Doc]
    pending: list[int]           # indices the timed job extracts
    prior: list[list[int]]       # indices committed by each prior run
    warmup: list[int]            # small slice for a session's warm-up job


def _pdf(rng: random.Random, i: int, n_pages: int) -> tuple[bytes, str]:
    pages = []
    for p in range(n_pages):
        body = [f"DOC_{i}_PAGE_{p}"]
        body += [f"{_sentence(rng, rng.randint(5, 11))} L{k}"
                 for k in range(rng.randint(*LINES_PER_PAGE))]
        pages.append(body)
    data = build_pdf(pages, compress=rng.random() < 0.5)
    return data, " ".join(" ".join(ls) for ls in pages)


def _host(rng: random.Random, n_hosts: int = 64) -> int:
    # Zipf(1) over hosts: host0 carries ~21% of documents.
    weights = [1.0 / (h + 1) for h in range(n_hosts)]
    return rng.choices(range(n_hosts), weights=weights)[0]


def build_corpus(workload: str, seed: int) -> Corpus:
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    # A slot is (kind, pages). The slots are a fixed multiset — HTML
    # pages, PDFs with their page counts and the faults, which are extra
    # documents — shuffled by the seed.
    slots = ([("html", 0)] * HTML_DOCS
             + [("pdf", p) for p in PDF_PAGES]
             + [(k, 3) for k in FAULT_KINDS for _ in range(FAULTS_PER_KIND)])
    rng.shuffle(slots)
    n = len(slots)

    docs = []
    for i, (kind, pages) in enumerate(slots):
        drng = random.Random(f"{workload}:{seed}:{i}")
        host = _host(drng)
        lang = drng.choice(_LANGS)
        if kind in ("html", "null_payload"):
            payload, raw = _make_html(drng, i, lang)
            path = "page"
        else:
            payload, raw = _pdf(drng, i, pages)
            path = "pdf"
        if kind == "null_payload":
            payload = None
        elif kind == "truncated_pdf":
            payload = payload[: drng.randint(24, 120)]
        elif kind == "garbage_pdf":
            payload = b"%PDF-" + bytes(drng.randrange(256) for _ in range(200))
        docs.append(Doc(
            url=f"https://host{host}.example/{path}/{i:07d}",
            warc_ts=WARC_EPOCH + _dt.timedelta(seconds=i),
            html=payload,
            text=raw if drng.random() < 0.8 else None,
            lang=lang,
        ))

    if spec.pending_fraction >= 1.0:
        pending = list(range(n))
    else:
        # The same share of every kind of slot, at least one, so the
        # resumed run always extracts the same amount of work and takes
        # the failure-row path.
        by_slot: dict[tuple[str, int], list[int]] = {}
        for i, slot in enumerate(slots):
            by_slot.setdefault(slot, []).append(i)
        pending = sorted(
            i for slot in sorted(by_slot)
            for i in rng.sample(by_slot[slot],
                                max(1, round(len(by_slot[slot]) * spec.pending_fraction)))
        )
    pending_set = set(pending)
    done = [i for i in range(n) if i not in pending_set]
    prior = [done[r::spec.prior_runs] for r in range(spec.prior_runs)]
    warmup = sorted(rng.sample(range(n), max(16, n // 25)))
    return Corpus(docs=docs, pending=pending, prior=prior, warmup=warmup)


def write_parquet(docs: list[Doc], path: str) -> None:
    """Write ``docs`` as the job's input table, several files per corpus
    like a crawl's shard output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("doc_bytes", pa.int64()), ("is_pdf", pa.bool_()),
    ])
    os.makedirs(path, exist_ok=True)
    for k, start in enumerate(range(0, len(docs), ROWS_PER_FILE)):
        part = docs[start:start + ROWS_PER_FILE]
        table = pa.Table.from_pydict({
            "url": [d.url for d in part],
            "warc_ts": [d.warc_ts for d in part],
            "html": [d.html for d in part],
            "text": [d.text for d in part],
            "lang": [d.lang for d in part],
            "doc_bytes": [len(d.html) if d.html is not None else 0 for d in part],
            "is_pdf": [(d.html or b"")[:4] == b"%PDF" for d in part],
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)
