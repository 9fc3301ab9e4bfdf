"""Plan-property assertions: pushdown, pruning, shuffle counts, Arrow-only Python."""

import os

import pyspark.sql.functions as F
import pytest

from plan_inspect import (
    count_exchanges,
    pushed_filters,
    python_eval_operators,
    read_schema_columns,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    from ocr_agent_spark.fixtures import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages_plan"))
    write_pages_parquet(path, 50)
    return path


def test_filter_pushdown_reaches_scan(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = orders.filter(F.col("o_orderkey") < 100).select("o_orderkey")
    pushed = pushed_filters(q)
    assert any("o_orderkey" in f for f in pushed), pushed


def test_column_pruning_excludes_binary_payload(spark, pages_path):
    """Metrics-style queries over the pages table must never read the
    fat html column (SURVEY §4: schema design keeps html:binary out of
    metrics scans)."""
    pages = spark.read.parquet(pages_path)
    q = pages.groupBy("lang").count()
    for scan_cols in read_schema_columns(q):
        assert "html" not in scan_cols, scan_cols


def test_pending_stats_agg_prunes_payload(spark, pages_path, tmp_path,
                                          monkeypatch):
    """The aggregate run_extraction_job actually runs (total, pending
    count, giant-PDF bit) must be metadata-only when ingest persisted
    doc_bytes/is_pdf: its ReadSchema excludes html, on a fresh root and
    on a resumed root (each page flagged by an IN subquery over the
    committed urls), whose committed side reads url only (VERDICT r2 'what's
    wrong' #1 — the fallback for raw 5-column inputs reads the payload
    once, but the fixture/ingest corpus must never pay a second payload
    scan). Neither resumed join aggregates the committed urls: a
    ``distinct()`` there costs a hash aggregate and a shuffle per run."""
    import re

    from ocr_agent_spark import pipeline
    from ocr_agent_spark.operators.ingest import has_doc_meta
    from ocr_agent_spark.sources.snapshot import SnapshotStore

    pages = spark.read.parquet(pages_path)
    assert has_doc_meta(pages)
    seen, anti_joins = [], []
    real = pipeline._run_stats
    real_anti_join = SnapshotStore.anti_join_committed

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    def anti_join_spy(*args):
        anti_joins.append(real_anti_join(*args))
        return anti_joins[-1]

    monkeypatch.setattr(pipeline, "_run_stats", spy)
    monkeypatch.setattr(SnapshotStore, "anti_join_committed", anti_join_spy)
    root = str(tmp_path / "job")
    pipeline.run_extraction_job(spark, pages.limit(10), root, run_id="a")
    pipeline.run_extraction_job(spark, pages, root, run_id="b")
    fresh, resumed = seen
    assert "Join" not in fresh._jdf.queryExecution().optimizedPlan().toString()
    resumed_plan = resumed._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistenceJoin" in resumed_plan, resumed_plan
    anti_join_plan = anti_joins[-1]._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in anti_join_plan, anti_join_plan
    for plan in (resumed_plan, anti_join_plan):
        assert not re.search(r"Aggregate \[url#", plan), plan
    for stats in (fresh, resumed):
        scans = read_schema_columns(stats)
        assert scans, "expected at least one parquet scan in the stats plan"
        for scan_cols in scans:
            assert "html" not in scan_cols, scan_cols
            assert "text" not in scan_cols, scan_cols


def test_job_results_identical_with_and_without_meta(spark, tmp_path):
    """The job accepts both the raw input-hint shape and the
    meta-augmented ingest shape, and extracts identical rows."""
    from ocr_agent_spark.fixtures import write_pages_parquet
    from ocr_agent_spark.pipeline import read_extracted, run_extraction_job

    raw_dir, meta_dir = str(tmp_path / "raw"), str(tmp_path / "meta")
    write_pages_parquet(raw_dir, 40, with_meta=False)
    write_pages_parquet(meta_dir, 40, with_meta=True)
    assert "doc_bytes" not in spark.read.parquet(raw_dir).columns

    outs = []
    for src, out in ((raw_dir, tmp_path / "o1"), (meta_dir, tmp_path / "o2")):
        run_extraction_job(spark, spark.read.parquet(src), str(out), run_id="r")
        rows = {
            (r["url"], r["page_index"]): (r["status"], r["text"])
            for r in read_extracted(spark, str(out)).collect()
        }
        outs.append(rows)
    assert outs[0] == outs[1]
    assert len(outs[0]) >= 40


def test_fused_extraction_plan_properties(spark, pages_path):
    from ocr_agent_spark.operators.extract import extract_pages_fused

    pages = spark.read.parquet(pages_path)
    ext = extract_pages_fused(pages)
    assert count_exchanges(ext) == 0          # payload never shuffles
    ops = python_eval_operators(ext)
    assert ops and all(op != "BatchEvalPython" for op in ops)


def test_merge_plan_prunes_text_only(spark, pages_path):
    """The merge reads only slim columns + text from extracted parquet —
    never doc_bytes/lineage columns."""
    from ocr_agent_spark.operators.extract import extract_pages_fused

    pages = spark.read.parquet(pages_path)
    out = str(pages_path) + "_extracted"
    if not os.path.exists(out):
        extract_pages_fused(pages).write.parquet(out)
    ext = spark.read.parquet(out)
    slim = ext.select("url", "page_index", "kind", "total_pages", "text").filter(
        F.col("text").isNotNull()
    )
    for scan_cols in read_schema_columns(slim):
        assert "doc_bytes" not in scan_cols
        assert "part_wall_ms" not in scan_cols


def test_robots_evaluation_broadcasts_and_stays_jvm(spark):
    """The politeness gate's scale contract: rules broadcast (never a
    url-side shuffle for the match), and after the rules table is
    built, NO Python evaluation touches the url table — matching and
    the longest-match argmax are pure JVM expressions."""
    from ocr_agent_spark.functions.robots import (
        evaluate_allowed,
        robots_rules_table,
    )

    robots = spark.createDataFrame(
        [("h.example.com", "User-agent: *\nDisallow: /p/\nAllow: /p/ok*\n")],
        "host string, robots_txt string",
    )
    urls = spark.range(500).select(
        F.concat(
            F.lit("https://h.example.com/p/"), F.col("id").cast("string")
        ).alias("url")
    )
    # materialize the tiny rules table so the url-side plan is isolated
    from ocr_agent_spark.functions.robots import RULES_DDL

    rules = spark.createDataFrame(robots_rules_table(robots).collect(), RULES_DDL)
    out = evaluate_allowed(urls, rules)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan, plan[:2000]
