"""Monitoring queries over the extracted/lineage tables.

These are the reference's GUI/status queries re-expressed as DataFrame
aggregations: status histogram (queue_store.py:191-196), category
totals (main.rs:840-844), progress + ETA model (main.rs:800-828),
latest-failed preview (main.rs:786-790). All are partial+final hash
aggregates — no global sorts, no collects beyond the tiny result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_histogram(extracted: DataFrame) -> DataFrame:
    """SELECT status, COUNT(*) GROUP BY status ORDER BY status (A1/O6)."""
    return (
        extracted.groupBy("status")
        .agg(F.count(F.lit(1)).alias("task_count"))
        .orderBy("status")
    )


def latest_failed_error(extracted: DataFrame) -> DataFrame:
    """Last failed row's error, by enqueue order (W3: max_by).

    Enqueue order is the natural key (url, page_index); max_by over the
    key struct gives the ORDER BY ... DESC LIMIT 1 of the reference
    (main.rs:786-790) as a single aggregation, no sort."""
    failed = extracted.filter(
        (F.col("status") == "failed") & F.col("error").isNotNull()
    )
    key = F.struct(F.col("url"), F.col("page_index"))
    return failed.agg(
        F.max_by("error", key).alias("error"),
        F.max(key).alias("last_key"),
    ).select("error", F.col("last_key.url").alias("url"),
             F.col("last_key.page_index").alias("page_index"))


def progress_and_eta(lineage: DataFrame, total_tasks: int) -> DataFrame:
    """ETA model from lineage rows (main.rs:800-828 analogue).

    avg_ms_per_doc = sum(wall) / sum(docs); remaining = avg × (total−done);
    progress = done/total clamped to [0,1] (App.tsx:137-146).
    """
    return lineage.agg(
        F.sum("doc_count").alias("completed"),
        (F.sum("wall_time_ms") / F.sum("doc_count")).alias("avg_ms_per_doc"),
    ).select(
        "completed",
        "avg_ms_per_doc",
        F.least(
            F.greatest(F.col("completed") / F.lit(max(total_tasks, 1)), F.lit(0.0)),
            F.lit(1.0),
        ).alias("progress"),
        (F.col("avg_ms_per_doc") * (F.lit(total_tasks) - F.col("completed"))).alias(
            "eta_ms"
        ),
    )


def salted_host_counts(pages: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Host-level doc counts via two-stage salted aggregation.

    The skew-safe form of ``groupBy(host).count()``: stage 1 groups by
    (host, salt) so a heavy host's rows spread over ``salt_buckets``
    reducers; stage 2 sums the per-salt partials (tiny). Identical
    result to the direct groupBy — the point is that no single reducer
    ever receives a whole heavy host. Spark's partial aggregation makes
    the plain count mostly map-side anyway; the pattern matters for
    high-cardinality aggregates (collect_list / distinct) on skewed
    keys, and this function is the template.
    """
    host = F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host")
    salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).alias("_salt")
    partial = (
        pages.select(host, salt)
        .groupBy("host", "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("_partial").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("host"))
    )


def heavy_hitter_hosts(pages: DataFrame, threshold_fraction: float = 0.05) -> DataFrame:
    """Hosts holding more than ``threshold_fraction`` of all docs.

    The skew probe for host-keyed aggregations: any host returned here
    should be salted (``host || '#' || pmod(xxhash64(url), S)``) before
    a host-level groupBy/join at scale. Extraction itself partitions by
    full-url hash, so it is immune to host skew by construction.
    """
    total = pages.count()
    return (
        pages.select(
            F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host")
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") > threshold_fraction * total)
        .orderBy(F.desc("doc_count"))
    )


def lineage_report(lineage: DataFrame) -> DataFrame:
    """Per-run throughput report from the committed lineage rows (A7).

    One row per run_id: partitions, docs, bytes, wall time (max over
    partitions — they run concurrently), and docs/s. The operational
    view a 1000-executor job is monitored by; the reference's analogue
    is the per-job stats block (main.rs:800-844), which this extends
    with byte and rate columns. Tiny output — one row per run.
    """
    return (
        lineage.groupBy("run_id")
        .agg(
            F.count(F.lit(1)).alias("partitions"),
            F.sum("doc_count").alias("docs"),
            F.sum("byte_count").alias("bytes"),
            F.max("wall_time_ms").alias("wall_ms"),
        )
        .withColumn(
            "docs_per_sec",
            F.round(
                F.col("docs") / (F.greatest(F.col("wall_ms"), F.lit(1)) / 1000.0),
                2,
            ),
        )
        .orderBy("run_id")
    )
