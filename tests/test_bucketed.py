"""Bucketed-table joins: co-bucketed url tables join with ZERO Exchange.

The north star's physical layout ("documents bucketed by url-hash"):
write once with bucketBy(n, url), then every url-keyed join — resume
anti-join, task↔result attach — runs bucket-by-bucket with no shuffle
on either side.
"""

import pyspark.sql.functions as F
import pytest

from plan_inspect import count_exchanges, executed_plan_str
from ocr_agent_spark.sources.bucketed import read_table, write_bucketed_by_url

BUCKETS = 8


@pytest.fixture()
def no_broadcast(spark):
    """Bucketing pays off in the sort-merge regime (both sides huge);
    at test size the planner would broadcast instead, which disables
    bucketed scans — pin the realistic regime."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    from ocr_agent_spark.fixtures import pages_dataframe

    base = tmp_path_factory.mktemp("bucketed")
    pages = pages_dataframe(spark, 60).select("url", "lang", "warc_ts")
    results = pages.select(
        "url", F.length("url").alias("n"), F.lit("completed").alias("status")
    )
    write_bucketed_by_url(pages, "pages_b", BUCKETS, path=str(base / "pages"))
    write_bucketed_by_url(results, "results_b", BUCKETS, path=str(base / "results"))
    yield "pages_b", "results_b"
    spark.sql("DROP TABLE IF EXISTS pages_b")
    spark.sql("DROP TABLE IF EXISTS results_b")


def test_cobucketed_equi_join_has_zero_exchanges(spark, bucketed_tables, no_broadcast):
    pages_t, results_t = bucketed_tables
    a, b = read_table(spark, pages_t), read_table(spark, results_t)
    joined = a.join(b.drop("status"), "url")
    plan = executed_plan_str(joined)
    assert count_exchanges(joined) == 0, plan[:3000]
    assert joined.count() == 60


def test_cobucketed_anti_join_has_zero_exchanges(spark, bucketed_tables, no_broadcast):
    """The resume anti-join shape: pending = pages ANTI JOIN committed
    on url — shuffle-free between co-bucketed tables."""
    pages_t, results_t = bucketed_tables
    a, b = read_table(spark, pages_t), read_table(spark, results_t)
    committed = b.filter(F.col("n") % 2 == 0).select("url")
    pending = a.join(committed, "url", "left_anti")
    assert count_exchanges(pending) == 0, executed_plan_str(pending)[:3000]
    n_committed = committed.count()
    assert pending.count() == 60 - n_committed


def test_unbucketed_same_join_does_shuffle(spark, bucketed_tables, tmp_path, no_broadcast):
    """Control: the identical join over plain parquet files (no catalog
    bucket metadata) pays exchanges — proving the zero above comes from
    the bucketing, not from trivial input size."""
    pages_t, results_t = bucketed_tables
    plain_a = str(tmp_path / "plain_a")
    plain_b = str(tmp_path / "plain_b")
    read_table(spark, pages_t).write.parquet(plain_a)
    read_table(spark, results_t).write.parquet(plain_b)
    a = spark.read.parquet(plain_a)
    b = spark.read.parquet(plain_b).drop("status")
    joined = a.join(b, "url")
    assert count_exchanges(joined) > 0
    assert joined.count() == 60


def test_bucketed_rows_roundtrip_exactly(spark, bucketed_tables):
    pages_t, _ = bucketed_tables
    from ocr_agent_spark.fixtures import pages_dataframe

    expected = {
        r["url"] for r in pages_dataframe(spark, 60).select("url").collect()
    }
    got = {r["url"] for r in read_table(spark, pages_t).collect()}
    assert got == expected
