"""Snapshot compaction + retention: the small-files maintenance path.

The streaming sink commits one run dir per micro-batch; compact() folds
the live table into one run (same rows, same resume semantics, history
preserved) and expire_snapshots() reclaims unreferenced dirs.
"""

import json
import os

import pytest

from ocr_agent_spark.fixtures import generate_pages
from ocr_agent_spark.sources.snapshot import CommitConflictError, SnapshotStore


@pytest.fixture()
def multi_run_store(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "t"))
    for i in range(4):
        store.commit(
            spark.createDataFrame([(i * 10 + j,) for j in range(5)], "id long"),
            run_id=f"r{i}",
        )
    return store


def test_compact_same_rows_fewer_dirs(spark, multi_run_store):
    store = multi_run_store
    before = {r["id"] for r in store.read(spark).collect()}
    assert len(store.committed_run_dirs()) == 4

    run_id = store.compact(spark, num_files=1)
    assert store.committed_run_dirs() == [os.path.join(store.data_dir, run_id)]
    after = {r["id"] for r in store.read(spark).collect()}
    assert after == before
    # one data file in the compacted run
    files = [f for f in os.listdir(os.path.join(store.data_dir, run_id))
             if f.endswith(".parquet")]
    assert len(files) == 1
    # history preserved: pre-compaction snapshot still readable
    assert store.read(spark, as_of_seq=3).count() == 20
    assert store.latest_manifest()["compacted_from"] == ["r0", "r1", "r2", "r3"]


def test_compact_carries_lineage_sidecars(spark, tmp_path):
    """The compacted run dir carries the union of the folded runs'
    lineage sidecars, each row under its original run_id; data reads
    never see the sidecar."""
    from ocr_agent_spark.sources.snapshot import LINEAGE_FILE

    store = SnapshotStore(str(tmp_path / "t"))
    for i in range(3):
        rows = [{"run_id": f"r{i}", "partition_id": p, "doc_count": i + p}
                for p in range(2)]
        store.commit(
            spark.createDataFrame([(i * 10 + j,) for j in range(5)], "id long"),
            run_id=f"r{i}",
            lineage=(lambda rows=rows: rows) if i != 1 else None,
        )
    before = store.lineage()
    assert [r["run_id"] for r in before] == ["r0", "r0", "r2", "r2"]

    run_id = store.compact(spark, num_files=1)
    with open(os.path.join(store.data_dir, run_id, LINEAGE_FILE)) as fh:
        assert json.load(fh) == before
    store.expire_snapshots(keep_latest=1)
    assert store.lineage() == before
    assert store.read(spark).columns == ["id"]
    assert store.read(spark).count() == 15


def test_resume_still_exact_after_compaction(spark, tmp_path):
    """The batch job's anti-join resume must be unaffected by compaction
    (completion is presence-in-snapshot, regardless of layout)."""
    from ocr_agent_spark.pipeline import (
        extraction_store,
        run_extraction_job,
    )

    records = generate_pages(20)
    pages = spark.createDataFrame(
        [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in records],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root = str(tmp_path / "job")
    run_extraction_job(spark, pages.limit(12), root, run_id="first")
    extraction_store(root).compact(spark)
    result = run_extraction_job(spark, pages, root, run_id="second")
    assert result.pages_skipped_committed == 12
    assert result.pages_processed == 8


def test_expire_snapshots_reclaims_only_unreferenced(spark, multi_run_store):
    store = multi_run_store
    store.compact(spark)
    # keep only the compacted manifest: r0..r3 become unreferenced
    deleted = store.expire_snapshots(keep_latest=1)
    assert deleted == ["r0", "r1", "r2", "r3"]
    assert store.read(spark).count() == 20
    live = os.listdir(store.data_dir)
    assert len(live) == 1 and live[0].startswith("compact-")
    # expired history is gone, loudly
    with pytest.raises(ValueError, match="no snapshot"):
        store.read(spark, as_of_seq=0)
    # idempotent
    assert store.expire_snapshots(keep_latest=1) == []


def test_expire_keeps_dirs_referenced_by_kept_manifests(spark, multi_run_store):
    store = multi_run_store
    # keep the last TWO manifests (seq 2: r0-r2, seq 3: r0-r3): nothing
    # is unreferenced, so nothing is deleted even though older manifests go
    deleted = store.expire_snapshots(keep_latest=2)
    assert deleted == []
    assert store.read(spark, as_of_seq=2).count() == 15
    assert store.read(spark).count() == 20


def test_compact_conflicts_with_interleaved_commit(spark, multi_run_store):
    """A commit landing between compact's manifest read and its publish
    must fail the compaction (CAS), never silently drop the commit."""
    from unittest.mock import patch

    store = multi_run_store
    real_latest = store.latest_manifest
    other = SnapshotStore(store.root)

    def read_then_lose(*a, **kw):
        manifest = real_latest()
        other.commit(spark.createDataFrame([(999,)], "id long"),
                     run_id="interleaved")
        return manifest

    with patch.object(store, "latest_manifest", side_effect=read_then_lose):
        with pytest.raises(CommitConflictError):
            store.compact(spark)
    assert store.read(spark).count() == 21  # nothing lost
    # the losing rewrite's full-table copy was cleaned up, not leaked
    assert not [d for d in os.listdir(store.data_dir)
                if d.startswith("compact-")]
