"""Streaming ingestion: exactly-once drain + checkpoint resume (ST1-ST4)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_agent_spark.fixtures import generate_pages
from ocr_agent_spark.streaming import run_streaming_extraction_committed


def _write_batch(path: str, records) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pydict(
        {
            "url": [r.url for r in records],
            "warc_ts": [r.warc_ts for r in records],
            "html": [r.html for r in records],
            "text": [r.text for r in records],
            "lang": [r.lang for r in records],
        },
        schema=schema,
    )
    pq.write_table(table, path)


def _drained_rows(spark, root, run_ids) -> int:
    """Rows a drain committed: its runs' lineage ``doc_count`` sum."""
    from ocr_agent_spark.pipeline import read_lineage

    lineage = read_lineage(spark, root).collect()
    return sum(r["doc_count"] for r in lineage if r["run_id"] in run_ids)


def test_streaming_drain_and_resume(spark, tmp_path):
    from ocr_agent_spark.pipeline import read_extracted

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    ckpt = str(tmp_path / "ckpt")
    records = [r for r in generate_pages(40) if r.html[:4] != b"%PDF"]

    _write_batch(f"{inbox}/batch-0.parquet", records[:25])
    runs1 = run_streaming_extraction_committed(spark, inbox, root, ckpt)
    assert _drained_rows(spark, root, runs1) == 25

    # second drain with no new files: nothing reprocessed
    assert run_streaming_extraction_committed(spark, inbox, root, ckpt) == []

    # new file arrives → only it is processed (checkpoint resume, ST3)
    _write_batch(f"{inbox}/batch-1.parquet", records[25:])
    runs3 = run_streaming_extraction_committed(spark, inbox, root, ckpt)
    assert _drained_rows(spark, root, runs3) == len(records) - 25

    ext = read_extracted(spark, root)
    assert ext.count() == ext.select("url").distinct().count()  # exactly-once
    assert ext.filter("status = 'completed'").count() == len(records)

    # streamed extraction text == batch kernel text (one code path)
    from ocr_agent_spark.kernel import extract_html_text

    got = {r["url"]: r["text"] for r in ext.collect()}
    for rec in records:
        assert got[rec.url] == extract_html_text(rec.html)


def test_streaming_multipage_pdf_fans_out_all_pages(spark, tmp_path):
    """A multi-page PDF arriving on the stream must yield one row per
    page — identical to the batch path — not a single page-0 row with
    the rest silently dropped."""
    from ocr_agent_spark.pipeline import read_extracted

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    ckpt = str(tmp_path / "ckpt")

    pdf_records = [r for r in generate_pages(60) if r.html[:4] == b"%PDF"]
    assert pdf_records
    _write_batch(f"{inbox}/pdfs.parquet", pdf_records)
    runs = run_streaming_extraction_committed(spark, inbox, root, ckpt)

    from ocr_agent_spark.kernel.minipdf import pdf_page_count

    expected_pages = sum(pdf_page_count(r.html) for r in pdf_records)
    assert _drained_rows(spark, root, runs) == expected_pages
    ext = read_extracted(spark, root)
    assert ext.count() == expected_pages
    multi = [r for r in pdf_records if pdf_page_count(r.html) > 1]
    assert multi, "fixture must contain at least one multi-page PDF"
    for rec in multi:
        pages = ext.filter(ext.url == rec.url).select("page_index").collect()
        assert sorted(p["page_index"] for p in pages) == list(
            range(pdf_page_count(rec.html))
        )

    # batch-path equality on the same payloads (one code path, two drivers)
    from ocr_agent_spark.operators.extract import extract_pages_fused

    batch_rows = {
        (r["url"], r["page_index"]): r["text"]
        for r in extract_pages_fused(
            spark.read.parquet(f"{inbox}/pdfs.parquet")
        ).collect()
    }
    stream_rows = {
        (r["url"], r["page_index"]): r["text"] for r in ext.collect()
    }
    assert stream_rows == batch_rows


def test_streaming_snapshot_committed_sink(spark, tmp_path):
    """foreachBatch → SnapshotStore: streamed and batch extraction share
    one table, one resume contract, one merge surface; drains are
    idempotent (re-drain commits nothing), a file that repeats committed
    urls commits only its new ones, and lineage rows land per run."""
    from ocr_agent_spark.pipeline import (
        merge_job,
        read_extracted,
        read_lineage,
        run_extraction_job,
    )

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    ckpt = str(tmp_path / "ckpt")
    records = generate_pages(30)

    _write_batch(f"{inbox}/b0.parquet", records[:18])
    runs1 = run_streaming_extraction_committed(spark, inbox, root, ckpt)
    assert runs1, "first drain must commit at least one run"

    # idempotence: nothing new → no commits
    assert run_streaming_extraction_committed(spark, inbox, root, ckpt) == []

    # new arrivals → exactly the new rows, in the SAME snapshot table;
    # the file repeats five committed urls, and those commit nothing
    _write_batch(f"{inbox}/b1.parquet", records[13:])
    runs2 = run_streaming_extraction_committed(spark, inbox, root, ckpt)
    assert runs2 and set(runs2).isdisjoint(runs1)

    ext = read_extracted(spark, root)
    assert ext.select("url").distinct().count() == 30
    assert ext.count() == ext.select("url", "page_index").distinct().count()
    assert _drained_rows(spark, root, runs1 + runs2) == ext.count()

    # lineage rows exist for every streamed run
    lineage = read_lineage(spark, root)
    run_ids = {r["run_id"] for r in lineage.select("run_id").distinct().collect()}
    assert set(runs1 + runs2) <= run_ids

    # the BATCH job resumes against the streamed commits: nothing pending
    pages_df = spark.createDataFrame(
        [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in records],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    result = run_extraction_job(spark, pages_df, root)
    assert result.pages_processed == 0
    assert result.pages_skipped_committed == 30

    # and the ordered merge works over the streamed table
    merged = merge_job(spark, root)
    assert merged.startswith("# Extracted Output")


def test_committed_streaming_replay_keeps_lineage_atomic(spark, tmp_path):
    """Each micro-batch publishes its rows and their lineage in one
    manifest, so there is no window where a run is committed without
    lineage. A drain replayed with a fresh checkpoint redelivers every
    batch: it commits nothing, and with a new file beside the old one it
    commits only the new file's rows. Every committed run still has
    exactly its lineage, and no row is duplicated."""
    from ocr_agent_spark.pipeline import (
        extraction_store,
        read_extracted,
        read_lineage,
    )

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    records = generate_pages(12)
    _write_batch(f"{inbox}/b0.parquet", records)

    runs = run_streaming_extraction_committed(
        spark, inbox, root, str(tmp_path / "ckpt"))
    assert len(runs) >= 1
    assert not os.path.exists(os.path.join(root, "lineage"))

    replay_runs = run_streaming_extraction_committed(
        spark, inbox, root, str(tmp_path / "ckpt2"))
    assert replay_runs == []  # no new extraction commits (exactly-once)

    # a fresh checkpoint delivers both files in one batch: the new
    # file's rows commit, the replayed ones do not
    _write_batch(f"{inbox}/b1.parquet", generate_pages(24)[12:])
    new_runs = run_streaming_extraction_committed(
        spark, inbox, root, str(tmp_path / "ckpt3"))
    assert len(new_runs) == 1

    ext = read_extracted(spark, root)
    assert ext.select("url").distinct().count() == 24
    assert ext.count() == ext.select("url", "page_index").distinct().count()
    docs = {}
    for r in read_lineage(spark, root).collect():
        docs[r["run_id"]] = docs.get(r["run_id"], 0) + r["doc_count"]
    assert set(docs) == set(extraction_store(root).latest_manifest()["runs"])
    assert sum(docs.values()) == ext.count()


def test_drain_rewrites_a_run_stranded_before_publish(spark, tmp_path, monkeypatch):
    """A crash between a micro-batch's write and its manifest publish
    leaves a run dir no manifest lists. The checkpoint re-delivers the
    batch under the same run_id, and the commit replaces that dir and
    commits the run once."""
    from ocr_agent_spark.pipeline import extraction_store, read_extracted
    from ocr_agent_spark.sources.snapshot import SnapshotStore

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(f"{inbox}/b0.parquet", generate_pages(12))

    def crash(self, manifest, seq):
        raise RuntimeError("killed before publish")

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_publish", crash)
        with pytest.raises(Exception, match="killed before publish"):
            run_streaming_extraction_committed(spark, inbox, root, ckpt)
    store = extraction_store(root)
    assert store.latest_manifest() is None
    stranded = os.listdir(store.data_dir)
    assert len(stranded) == 1

    runs = run_streaming_extraction_committed(spark, inbox, root, ckpt)
    assert runs == stranded
    assert store.latest_manifest()["runs"] == runs
    ext = read_extracted(spark, root)
    assert ext.count() == ext.select("url", "page_index").distinct().count()
    assert _drained_rows(spark, root, runs) == ext.count()


def test_drain_skips_a_batch_folded_by_compaction(spark, tmp_path):
    """``SnapshotStore.compact`` replaces the manifest's runs with one
    ``compact-*`` run. A batch replayed after it (a fresh checkpoint
    re-delivers batch 0) is already committed: its urls are in the
    compacted run, so the drain commits nothing, and the folded run's
    dir stays for ``expire_snapshots`` to reclaim."""
    from ocr_agent_spark.pipeline import extraction_store, read_extracted

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    _write_batch(f"{inbox}/b0.parquet", generate_pages(12))
    runs = run_streaming_extraction_committed(
        spark, inbox, root, str(tmp_path / "ckpt"))
    assert len(runs) == 1
    store = extraction_store(root)
    store.compact(spark)
    assert store.latest_manifest()["runs"][0].startswith("compact-")

    replay = run_streaming_extraction_committed(
        spark, inbox, root, str(tmp_path / "ckpt2"))
    assert replay == []
    ext = read_extracted(spark, root)
    assert ext.count() == ext.select("url", "page_index").distinct().count()
    assert os.path.isdir(os.path.join(store.data_dir, runs[0]))


def test_stream_resumes_against_a_batch_run(spark, tmp_path):
    """A file whose pages a batch run already committed commits nothing
    when it is streamed: a stream resumes by url, as the batch job does."""
    from ocr_agent_spark.pipeline import read_extracted, run_extraction_job

    inbox = str(tmp_path / "inbox")
    root = str(tmp_path / "job")
    records = [r for r in generate_pages(20) if r.html[:4] != b"%PDF"][:10]
    _write_batch(f"{inbox}/b0.parquet", records)
    first = run_extraction_job(
        spark, spark.read.parquet(f"{inbox}/b0.parquet"), root)
    assert first.pages_processed == 10

    runs = run_streaming_extraction_committed(
        spark, inbox, root, str(tmp_path / "ckpt"))
    assert runs == []
    ext = read_extracted(spark, root)
    assert ext.count() == ext.select("url", "page_index").distinct().count() == 10
