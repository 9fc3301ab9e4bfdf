"""Input triage: the reference's discovery report, Spark-first (S2).

The reference classifies every user-supplied input path into five
buckets and prints a diagnostic report before enqueueing
(/root/reference/src/ocr_agent/input_discovery.py:56-97,
``InputDiscoveryReport`` at :27-34; report rendering
cli.py:270-307):

- supported          — file with a supported extension
- missing            — path does not exist
- unsupported        — existing file with an unsupported extension
- empty_dir          — directory containing no supported files
- unknown            — exists but is neither file nor directory

Two layers here:

- :func:`discover_input_rows` — driver-side, filesystem-true: the CLI
  argument list is small by construction, and existence/dir-walk
  checks are driver filesystem operations, so a distributed pass would
  only add overhead. Returns the category rows + the expanded
  supported files in enqueue order (input order, sorted within dirs —
  the reference's determinism contract, input_discovery.py:100-109).
- :func:`classify_path_column` — the extension predicate as a pure JVM
  expression, for triaging BILLIONS of path strings already inside a
  table (a crawl manifest column): no filesystem, full codegen,
  oracle-expressible in ANSI SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's supported sets (input_discovery.py:14-24). The Spark
# engine's own page payloads arrive as parquet, so the CLI passes
# supported_exts={'parquet'}; the defaults mirror the reference.
SUPPORTED_IMAGE_EXTENSIONS = ("png", "jpg", "jpeg", "webp", "bmp", "tif", "tiff")
SUPPORTED_PDF_EXTENSIONS = ("pdf",)

CAT_SUPPORTED = "supported"
CAT_MISSING = "missing"
CAT_UNSUPPORTED = "unsupported"
CAT_EMPTY_DIR = "empty_dir"
CAT_UNKNOWN = "unknown"


def _ext(path: str) -> str:
    low = path.lower()
    # compound crawl-archive suffix: ".warc.gz" is one format, not "gz"
    # (a bare .gz of anything else stays unsupported)
    if low.endswith(".warc.gz"):
        return "warc.gz"
    return os.path.splitext(low)[1].lstrip(".")


def discover_input_rows(
    paths: list[str],
    supported_exts: tuple[str, ...] = SUPPORTED_IMAGE_EXTENSIONS
    + SUPPORTED_PDF_EXTENSIONS,
) -> tuple[list[str], list[tuple[str, str]]]:
    """(supported files in enqueue order, (path, category) rows).

    Spark-free, so the CLI can triage — and refuse with exit code 2 —
    before paying session startup.

    Input order is preserved for files; directory contents are sorted
    (recursive) — byte-identical queue order across runs, the same
    contract as the reference's enqueue-order expansion.
    """
    supported: list[str] = []
    rows: list[tuple[str, str]] = []
    exts = {e.lower() for e in supported_exts}
    for p in paths:
        if not os.path.exists(p):
            rows.append((p, CAT_MISSING))
        elif os.path.isfile(p):
            if _ext(p) in exts:
                supported.append(p)
                rows.append((p, CAT_SUPPORTED))
            else:
                rows.append((p, CAT_UNSUPPORTED))
        elif os.path.isdir(p):
            found = sorted(
                os.path.join(root, f)
                for root, _dirs, files in os.walk(p)
                for f in files
                if _ext(f) in exts
            )
            if found:
                supported.extend(found)
                rows.append((p, CAT_SUPPORTED))
            else:
                rows.append((p, CAT_EMPTY_DIR))
        else:
            rows.append((p, CAT_UNKNOWN))
    return supported, rows


def classify_path_column(
    path: Column,
    image_exts: tuple[str, ...] = SUPPORTED_IMAGE_EXTENSIONS,
    pdf_exts: tuple[str, ...] = SUPPORTED_PDF_EXTENSIONS,
) -> Column:
    """Extension-based category for a path *column* (JVM expression).

    The distributed half of S2: when the inputs are path strings in a
    manifest table (not CLI arguments), this classifies them at scan
    speed — supported_image / supported_pdf / unsupported — with no
    filesystem access and no Python.
    """
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    return (
        F.when(ext.isin(*image_exts), F.lit("supported_image"))
        .when(ext.isin(*pdf_exts), F.lit("supported_pdf"))
        .otherwise(F.lit("unsupported"))
    )


def triage_counts(df: DataFrame, path_col: str | Column) -> DataFrame:
    """Category histogram over a path column (the report's totals)."""
    c = F.col(path_col) if isinstance(path_col, str) else path_col
    return (
        df.select(classify_path_column(c).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def render_triage_report(rows: list[tuple[str, str]]) -> str:
    """The reference's diagnostic text (cli.py:270-307 shape)."""
    by_cat: dict[str, list[str]] = {}
    for p, cat in rows:
        by_cat.setdefault(cat, []).append(p)
    lines: list[str] = []
    headers = [
        (CAT_MISSING, "Missing input path(s):"),
        (CAT_UNSUPPORTED, "Unsupported input file(s):"),
        (CAT_EMPTY_DIR, "Directory contains no supported files:"),
        (CAT_UNKNOWN, "Unknown input path type (not a file or directory):"),
    ]
    for cat, header in headers:
        if by_cat.get(cat):
            lines.append(header)
            lines.extend(f"- {p}" for p in sorted(by_cat[cat]))
    return "\n".join(lines)
