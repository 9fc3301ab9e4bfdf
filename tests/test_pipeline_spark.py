"""Spark integration: end-to-end extraction job semantics (SURVEY §5).

Covers: golden byte-equality per (url, page_index), queue semantics
(status histogram A1, failed-row retention D2, empty-input guard A3,
resume anti-join J2), ordered merge determinism under parallelism (D1),
lineage (A7), and the ordering contract W1.
"""

import os

import pyspark.sql.functions as F
import pytest

from ocr_agent_spark.fixtures import generate_pages, pages_dataframe
from ocr_agent_spark.kernel import (
    extract_html_text,
    extract_pdf_page_text,
    pdf_page_count,
)
from ocr_agent_spark.operators.merge import merge_extracted_to_markdown
from ocr_agent_spark.operators.metrics import (
    heavy_hitter_hosts,
    latest_failed_error,
    status_histogram,
)
from ocr_agent_spark.pipeline import (
    EmptyInputError,
    merge_job,
    read_extracted,
    read_lineage,
    run_extraction_job,
)

N_DOCS = 80


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_dataframe(spark, N_DOCS).persist()


@pytest.fixture(scope="module")
def completed_root(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("job"))
    run_extraction_job(spark, corpus, root, run_id="r1")
    return root


def _expected_rows():
    expected = {}
    for i, rec in enumerate(generate_pages(N_DOCS)):
        if rec.html[:4] == b"%PDF":
            for p in range(pdf_page_count(rec.html)):
                t = extract_pdf_page_text(rec.html, p)
                expected[(rec.url, p)] = t.rstrip() + "\n" if t.strip() else ""
        else:
            expected[(rec.url, 0)] = extract_html_text(rec.html)
    return expected


def test_golden_byte_equality(spark, completed_root):
    got = {
        (r["url"], r["page_index"]): r["text"]
        for r in read_extracted(spark, completed_root).collect()
    }
    expected = _expected_rows()
    assert set(got) == set(expected)
    mismatches = [k for k in expected if got[k] != expected[k]]
    assert mismatches == []


def test_status_histogram_all_completed(spark, completed_root):
    hist = {
        r["status"]: r["task_count"]
        for r in status_histogram(read_extracted(spark, completed_root)).collect()
    }
    assert set(hist) == {"completed"}


def test_lineage_rows(spark, completed_root):
    lineage = read_lineage(spark, completed_root)
    rows = lineage.collect()
    assert len(rows) >= 1
    total_docs = sum(r["doc_count"] for r in rows)
    assert total_docs == read_extracted(spark, completed_root).count()
    assert all(r["byte_count"] > 0 for r in rows)
    assert all(r["wall_time_ms"] >= 0 for r in rows)
    assert all(r["run_id"] == "r1" for r in rows)


def _assert_lineage_equals_data(spark, root, run_id):
    """Per partition_id, the run's lineage row == count, sum(doc_bytes)
    and max(part_wall_ms) over the rows the run committed."""
    from ocr_agent_spark.pipeline import extraction_store

    data = {
        r["partition_id"]: (r["n"], r["b"], r["w"])
        for r in spark.read.parquet(
            os.path.join(extraction_store(root).data_dir, run_id)
        )
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_bytes").alias("b"),
             F.max("part_wall_ms").alias("w"))
        .collect()
    }
    lineage = {
        r["partition_id"]: (r["doc_count"], r["byte_count"], r["wall_time_ms"])
        for r in read_lineage(spark, root).filter(F.col("run_id") == run_id)
        .collect()
    }
    assert data and lineage == data


def test_lineage_equals_data_fused(spark, completed_root):
    _assert_lineage_equals_data(spark, completed_root, "r1")


def test_lineage_equals_data_sharded_giant_pdf(spark, tmp_path):
    """A run whose giant PDF is sharded over the cores is counted by the
    tasks of both branches (fused scan splits and giant-PDF shards)."""
    from ocr_agent_spark.kernel.minipdf import build_pdf
    from ocr_agent_spark.operators.extract import extract_pages_auto
    from ocr_agent_spark.pipeline import commit_run, extraction_store

    giant = build_pdf([[f"PAGE_{p}_MARK"] for p in range(40)])
    records = generate_pages(20)
    df = spark.createDataFrame(
        [(r.url, r.warc_ts, r.html) for r in records]
        + [("https://big.example/doc", None, giant)],
        "url string, warc_ts timestamp, html binary",
    )
    root = str(tmp_path / "giant")
    commit_run(
        spark, extraction_store(root), "g",
        lambda counter: extract_pages_auto(
            df, giant_bytes=len(giant), counter=counter),
    )
    ext = read_extracted(spark, root)
    giant_parts = {r["partition_id"] for r in
                   ext.filter(F.col("url") == "https://big.example/doc").collect()}
    assert len(giant_parts) > 1  # the shards spread its pages
    _assert_lineage_equals_data(spark, root, "g")


def test_many_small_files_extract_in_one_wave(spark, tmp_path):
    """A corpus of ~2 small files per core is packed into at most one
    scan split per core, so the fused extraction runs one wave of Python
    tasks (one lineage row per task) rather than one task per file."""
    from ocr_agent_spark.fixtures import write_pages_parquet

    cores = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "pages")
    write_pages_parquet(src, N_DOCS, rows_per_file=max(1, N_DOCS // (2 * cores)))
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) > cores

    root = str(tmp_path / "job")
    run_extraction_job(spark, spark.read.parquet(src), root, run_id="w")
    n_parts = read_lineage(spark, root).filter(F.col("run_id") == "w").count()
    assert 1 < n_parts <= cores
    _assert_lineage_equals_data(spark, root, "w")
    got = {(r["url"], r["page_index"]): r["text"]
           for r in read_extracted(spark, root).collect()}
    assert got == _expected_rows()


def test_python_workers_fork_from_the_preloading_daemon(spark):
    """Every Python worker is forked from ``worker_daemon``, which has
    imported the extraction stack, so a task that imports nothing itself
    finds that stack loaded; and the workers inherit its stat-checked
    ``zipimporter.invalidate_caches``, so a task's
    ``importlib.invalidate_caches()`` keeps every unchanged archive's
    cached directory instead of re-reading it."""
    from ocr_agent_spark.worker_daemon import PRELOAD

    def worker_state(_):
        import importlib
        import os
        import sys
        import zipimport

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            parent = fh.read().replace(b"\0", b" ").decode()
        invalidate = zipimport.zipimporter.invalidate_caches
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        reread = sorted(a for a, files in before.items() if after.get(a) is not files)
        yield (
            parent,
            [name for name in PRELOAD if name not in sys.modules],
            getattr(invalidate, "stat_checked", False),
            len(before),
            reread,
        )

    cores = spark.sparkContext.defaultParallelism
    states = (spark.sparkContext.parallelize(range(cores), cores)
              .mapPartitions(worker_state).collect())
    assert len(states) == cores
    for parent, missing, stat_checked, archives, reread in states:
        assert "-m ocr_agent_spark.worker_daemon" in parent
        assert missing == []
        assert stat_checked
        assert archives > 0
        assert reread == []


def test_run_commit_is_atomic(spark, corpus, tmp_path, monkeypatch):
    """A run killed after its data and lineage are written but before the
    manifest publish leaves nothing visible; the re-run commits the same
    rows and exactly one lineage set; a zero-pending re-run publishes no
    manifest."""
    from ocr_agent_spark.pipeline import extraction_store
    from ocr_agent_spark.sources.snapshot import LINEAGE_FILE, SnapshotStore

    pages = corpus.limit(25)
    root = str(tmp_path / "crash")

    def killed(self, manifest, seq):
        raise RuntimeError("killed before publish")

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_publish", killed)
        with pytest.raises(RuntimeError, match="killed before publish"):
            run_extraction_job(spark, pages, root, run_id="crashed")
    store = extraction_store(root)
    assert os.path.exists(os.path.join(store.data_dir, "crashed", LINEAGE_FILE))
    assert read_extracted(spark, root) is None
    assert read_lineage(spark, root) is None

    result = run_extraction_job(spark, pages, root, run_id="rerun")
    assert result.pages_skipped_committed == 0
    clean = str(tmp_path / "clean")
    run_extraction_job(spark, pages, clean, run_id="rerun")

    def rows(r):
        return sorted(
            (x["url"], x["page_index"], x["status"], x["text"])
            for x in read_extracted(spark, r).collect()
        )

    assert rows(root) == rows(clean)
    lineage = read_lineage(spark, root)
    assert {r["run_id"] for r in lineage.collect()} == {"rerun"}
    _assert_lineage_equals_data(spark, root, "rerun")

    n_manifests = len(store.snapshots())
    again = run_extraction_job(spark, pages, root, run_id="noop")
    assert again.pages_processed == 0
    assert len(store.snapshots()) == n_manifests


def test_killed_run_retries_under_its_run_id(spark, corpus, tmp_path, monkeypatch):
    """A run killed before its manifest publish leaves a run dir that no
    manifest names. A retry under the same run_id replaces that dir and
    commits once. A run_id that a manifest names, live or folded by a
    compaction not yet expired, still raises."""
    from ocr_agent_spark.pipeline import extraction_store
    from ocr_agent_spark.sources.snapshot import SnapshotStore

    pages = corpus.limit(25)
    root = str(tmp_path / "retry")

    def killed(self, manifest, seq):
        raise RuntimeError("killed before publish")

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_publish", killed)
        with pytest.raises(RuntimeError, match="killed before publish"):
            run_extraction_job(spark, pages, root, run_id="killed")
    store = extraction_store(root)
    assert store.latest_manifest() is None
    assert os.listdir(store.data_dir) == ["killed"]

    result = run_extraction_job(spark, pages, root, run_id="killed")
    assert result.pages_skipped_committed == 0
    assert store.latest_manifest()["runs"] == ["killed"]
    ext = read_extracted(spark, root)
    assert ext.count() == ext.select("url", "page_index").distinct().count()
    _assert_lineage_equals_data(spark, root, "killed")

    with pytest.raises(ValueError, match="already written"):
        run_extraction_job(spark, corpus, root, run_id="killed")
    store.compact(spark)
    assert "killed" not in store.latest_manifest()["runs"]
    with pytest.raises(ValueError, match="already written"):
        run_extraction_job(spark, corpus, root, run_id="killed")
    assert read_extracted(spark, root).count() == ext.count()


def test_read_lineage_legacy_root(spark, corpus, tmp_path):
    """A root written before lineage moved into the run dirs keeps its
    separate lineage table; read_lineage returns its rows together with
    the sidecar rows of a new run, and the new run writes nothing there."""
    from ocr_agent_spark.operators.extract import extract_pages_fused
    from ocr_agent_spark.pipeline import extraction_store, lineage_store

    root = str(tmp_path / "legacy")
    store = extraction_store(root)
    store.commit(extract_pages_fused(corpus.limit(10)), run_id="old")
    old_rows = spark.read.parquet(os.path.join(store.data_dir, "old"))
    # the pre-sidecar lineage table, as such roots carry it
    lineage_store(root).commit(
        old_rows.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("doc_bytes").alias("byte_count"),
            F.max("part_wall_ms").alias("wall_time_ms"),
        ).select(F.lit("old").alias("run_id"), "partition_id", "doc_count",
                 "byte_count", "wall_time_ms",
                 F.current_timestamp().alias("committed_ts")),
        run_id="old",
    )

    result = run_extraction_job(spark, corpus, root, run_id="new")
    assert result.pages_skipped_committed == 10
    lineage = read_lineage(spark, root)
    docs = {}
    for r in lineage.collect():
        docs[r["run_id"]] = docs.get(r["run_id"], 0) + r["doc_count"]
    assert docs == {"old": old_rows.count(),
                    "new": read_extracted(spark, root).count() - old_rows.count()}
    assert len(lineage_store(root).snapshots()) == 1  # nothing new written
    _assert_lineage_equals_data(spark, root, "new")


def test_merge_parallelism_invariance(spark, completed_root):
    """The merge's range partition count comes from Spark conf (shuffle
    parallelism caps it, the advisory partition size divides the plan
    bytes); the artifact is byte-identical for any count."""
    from ocr_agent_spark.operators.merge import _ordered_chunks

    ext = read_extracted(spark, completed_root)
    # default sizing: the small fixture fits one advisory-sized partition
    assert _ordered_chunks(ext, "dollar").rdd.getNumPartitions() == 1
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    outs = {}
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
        for p in (1, 3, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(p))
            assert _ordered_chunks(ext, "dollar").rdd.getNumPartitions() == p
            outs[p] = merge_extracted_to_markdown(ext)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
    assert outs[1] == outs[3] == outs[16]
    assert outs[1].startswith("# Extracted Output\n")
    assert outs[1].endswith("\n") and not outs[1].endswith("\n\n")


def test_merge_to_file_byte_identical(spark, completed_root, tmp_path):
    """The bounded-memory streaming merge == the in-memory merge."""
    from ocr_agent_spark.operators.merge import merge_extracted_to_file

    ext = read_extracted(spark, completed_root)
    in_memory = merge_extracted_to_markdown(ext)
    path = str(tmp_path / "merged.md")
    n = merge_extracted_to_file(ext, path)
    with open(path, encoding="utf-8", newline="") as fh:
        streamed = fh.read()
    assert streamed == in_memory
    assert n == len(in_memory.encode("utf-8"))
    assert [f for f in os.listdir(tmp_path) if ".tmp-" in f] == []


def test_merge_to_file_failure_leaves_target_untouched(
    spark, completed_root, tmp_path
):
    """A merge whose Spark action fails leaves the previous artifact's
    bytes in place and no temp file behind."""
    from ocr_agent_spark.operators.merge import merge_extracted_to_file

    path = tmp_path / "output.md"
    sentinel = b"# previous artifact\n"
    path.write_bytes(sentinel)
    broken = read_extracted(spark, completed_root).withColumn(
        "text", F.raise_error(F.lit("merge input unreadable"))
    )
    with pytest.raises(Exception, match="merge input unreadable"):
        merge_extracted_to_file(broken, str(path))
    assert path.read_bytes() == sentinel
    assert [f for f in os.listdir(tmp_path) if ".tmp-" in f] == []


def test_merge_equals_sequential_reference_shape(spark, completed_root):
    """Distributed merge == pure sequential merge over the same rows."""
    from ocr_agent_spark.kernel.merge import MergeRow, render_merged_markdown

    rows = (
        read_extracted(spark, completed_root)
        .orderBy("url", "page_index")
        .select("url", "kind", "page_index", "total_pages", "text")
        .collect()
    )
    sequential = render_merged_markdown(
        [MergeRow(r["url"], r["kind"], r["page_index"], r["total_pages"], r["text"]) for r in rows]
    )
    distributed = merge_job(spark, completed_root)
    assert distributed == sequential


def test_merge_job_streams_to_file_byte_identical(spark, completed_root, tmp_path):
    """merge_job(merged_path=...) must take the bounded-memory streaming
    path (merge_extracted_to_file) and produce bytes identical to the
    collecting variant (VERDICT r2 'what's wrong' #2: the CLI run path
    previously collected the whole artifact into the driver)."""
    collected = merge_job(spark, completed_root)
    path = str(tmp_path / "artifact.md")
    returned = merge_job(spark, completed_root, merged_path=path)
    with open(path, encoding="utf-8", newline="") as fh:
        on_disk = fh.read()
    assert on_disk == collected
    assert returned == collected


def test_resume_processes_only_remainder(spark, corpus, tmp_path):
    root = str(tmp_path / "resume")
    first = run_extraction_job(spark, corpus.limit(30), root, run_id="first")
    second = run_extraction_job(spark, corpus, root, run_id="second")
    assert second.pages_skipped_committed == first.pages_processed
    assert second.pages_processed == second.pages_total - first.pages_processed
    ext = read_extracted(spark, root)
    assert ext.count() == ext.select("url", "page_index").distinct().count()
    # third run: nothing pending, no new snapshot data
    third = run_extraction_job(spark, corpus, root, run_id="third")
    assert third.pages_processed == 0


def test_resume_counts_exact_with_repeated_urls(spark, tmp_path):
    """A resumed run counts input rows, once each: a committed PDF's N
    page rows must not multiply its input row, a url repeated in the
    input counts per row, and a NULL url is never committed, so it is
    pending. The input is a union, as the CLI's WARC + parquet input is."""
    from ocr_agent_spark.kernel.minipdf import build_pdf

    n_pages = 4
    pdf = ("https://docs.example/manual.pdf",
           build_pdf([[f"PAGE_{p}_MARK"] for p in range(n_pages)]))
    html = ("https://www.example/a", b"<html><body><p>Committed.</p></body></html>")
    new = ("https://www.example/b", b"<html><body><p>New page.</p></body></html>")
    schema = "url string, warc_ts timestamp, html binary"
    root = str(tmp_path / "repeat")
    run_extraction_job(
        spark,
        spark.createDataFrame([(u, None, h) for u, h in (pdf, html)], schema),
        root, run_id="first")
    committed = read_extracted(spark, root)
    assert committed.filter(F.col("url") == pdf[0]).count() == n_pages

    rows = [pdf, pdf, html, new, new, (None, new[1])]
    frames = [spark.createDataFrame([(u, None, h) for u, h in part], schema)
              for part in (rows[:3], rows[3:])]
    second = run_extraction_job(
        spark, frames[0].unionByName(frames[1]), root, run_id="second")
    done = {pdf[0], html[0]}
    skipped = sum(u in done for u, _ in rows)
    assert (second.pages_total, second.pages_processed,
            second.pages_skipped_committed) == (
        len(rows), len(rows) - skipped, skipped)


def test_failed_rows_retained_and_skipped_in_merge(spark, tmp_path):
    bad = spark.createDataFrame(
        [
            ("https://bad.example/x", None, b"%PDF-truncated-garbage", None, "en"),
            (
                "https://ok.example/y",
                None,
                b"<html><body><p>"
                + b"good words fill this paragraph up to the content threshold now "
                + b"</p></body></html>",
                None,
                "en",
            ),
        ],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root = str(tmp_path / "bad")
    run_extraction_job(spark, bad, root, run_id="rbad")
    ext = read_extracted(spark, root)
    failed = ext.filter(F.col("status") == "failed").collect()
    assert len(failed) == 1
    assert failed[0]["error"] is not None and "IndexError" in failed[0]["error"]
    # W3: latest failed error surfaces
    lf = latest_failed_error(ext).collect()[0]
    assert "IndexError" in lf["error"]
    # failed row excluded from the artifact, retained in the table
    merged = merge_job(spark, root)
    assert "bad.example" not in merged
    assert "ok.example" in merged


def test_empty_input_guard(spark, corpus, tmp_path):
    with pytest.raises(EmptyInputError):
        run_extraction_job(spark, corpus.limit(0), str(tmp_path / "empty"))


def test_partition_balance_under_host_skew(spark, corpus, tmp_path):
    """The corpus plants ~35% of docs on one host; extraction partitions
    must stay balanced anyway (nothing keys by host). Evidence straight
    from the lineage table: no partition holds more than 3x the mean."""
    from ocr_agent_spark.operators.extract import extract_pages_fused

    ext = extract_pages_fused(corpus.repartition(8))
    counts = [
        r["doc_count"]
        for r in ext.groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .collect()
    ]
    assert len(counts) >= 4
    assert max(counts) <= 3 * (sum(counts) / len(counts))


def test_heavy_hitter_detection(spark, corpus):
    hosts = [r["host"] for r in heavy_hitter_hosts(corpus).collect()]
    assert "host0.example" in hosts  # the planted skew


def test_salted_host_counts_equals_direct(spark, corpus):
    from ocr_agent_spark.operators.metrics import salted_host_counts

    salted = {r["host"]: r["doc_count"] for r in salted_host_counts(corpus).collect()}
    direct = {
        r["host"]: r["cnt"]
        for r in corpus.groupBy(
            F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert salted == direct


def test_extraction_plan_is_vectorized(spark, corpus):
    """BASELINE 'no per-row Python': with every PDF sharded as a giant,
    both branches of the plan are Arrow-vectorized MapInPandas, never
    BatchEvalPython."""
    from ocr_agent_spark.operators.extract import extract_pages_auto

    plan = extract_pages_auto(corpus, giant_bytes=1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 2


def test_fused_plan_single_pass_no_shuffle(spark, corpus):
    """The fused hot path: one MapInPandas, no exchange of the payload
    (no Exchange at all below the extractor), no row-wise Python."""
    from ocr_agent_spark.operators.extract import extract_pages_fused

    plan = extract_pages_fused(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan  # payload never shuffles


def test_fused_equals_staged(spark, corpus):
    """Fused single-pass output == the sharded giant-PDF branch's output
    (every PDF forced through it), row for row."""
    from ocr_agent_spark.operators.extract import (
        extract_pages_auto,
        extract_pages_fused,
    )

    def rows(df):
        got = [
            ((r["url"], r["page_index"]),
             (r["kind"], r["total_pages"], r["text"], r["status"], r["doc_bytes"]))
            for r in df.collect()
        ]
        assert len(got) == len(dict(got))  # no (url, page_index) twice
        return dict(got)

    assert rows(extract_pages_fused(corpus)) == rows(
        extract_pages_auto(corpus, giant_bytes=1))
