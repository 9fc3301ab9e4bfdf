"""Iceberg-style time travel over the snapshot store."""

import pytest

from ocr_agent_spark.sources.snapshot import SnapshotStore


def test_time_travel(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "tt"))
    df1 = spark.createDataFrame([(1,), (2,)], "id long")
    df2 = spark.createDataFrame([(3,)], "id long")
    store.commit(df1, run_id="r1")
    store.commit(df2, run_id="r2")

    assert store.read(spark).count() == 3
    assert store.read(spark, as_of_seq=0).count() == 2
    assert store.read(spark, as_of_seq=1).count() == 3
    with pytest.raises(ValueError, match="no snapshot"):
        store.read(spark, as_of_seq=9)

    history = store.snapshots()
    assert [s["seq"] for s in history] == [0, 1]
    assert history[0]["runs"] == ["r1"]
    assert history[1]["runs"] == ["r1", "r2"]


def test_concurrent_commit_conflicts_loudly(spark, tmp_path):
    """Two writers racing on the same base snapshot: exactly one wins,
    the loser raises CommitConflictError, and the table stays
    consistent (the winner's run is never dropped)."""
    from unittest.mock import patch

    from ocr_agent_spark.sources.snapshot import CommitConflictError

    store = SnapshotStore(str(tmp_path / "cas"))
    store.commit(spark.createDataFrame([(1,)], "id long"), run_id="base")

    # Interleave: writer B reads the manifest and publishes seq=1 while
    # writer A is between its manifest read and its own publish. Mock
    # latest_manifest so A's read happens, then B commits for real.
    real_latest = store.latest_manifest
    other = SnapshotStore(str(tmp_path / "cas"))

    def read_then_lose(*a, **kw):
        manifest = real_latest()
        if not other._manifests() or len(other._manifests()) == 1:
            other.commit(
                spark.createDataFrame([(2,)], "id long"), run_id="winner"
            )
        return manifest

    with patch.object(store, "latest_manifest", side_effect=read_then_lose):
        with pytest.raises(CommitConflictError, match="seq=1"):
            store.commit(spark.createDataFrame([(3,)], "id long"), run_id="loser")

    # Winner's commit is intact; loser's run never published, and its
    # run dir is not left behind as an orphan no manifest references.
    assert store.latest_manifest()["runs"] == ["base", "winner"]
    assert store.read(spark).count() == 2
    assert not (tmp_path / "cas" / "data" / "loser").exists()
    # Loser can retry under the same run_id against the new base.
    retry = SnapshotStore(str(tmp_path / "cas"))
    retry.commit(spark.createDataFrame([(3,)], "id long"), run_id="loser")
    assert retry.read(spark).count() == 3
    assert retry.latest_manifest()["runs"] == ["base", "winner", "loser"]


def test_crashed_manifest_write_leaves_no_partial_state(spark, tmp_path):
    """code-review r3: a writer killed mid-manifest-write must never
    leave a truncated manifest under the sequenced name (that would
    brick every future read). The publish is write+fsync to a temp name
    then an atomic hard link."""
    import json
    import os
    from unittest.mock import patch

    store = SnapshotStore(str(tmp_path / "crash"))
    store.commit(spark.createDataFrame([(1,)], "id long"), run_id="r1")

    # Simulate SIGKILL mid-write: json.dump raises before finishing.
    with patch("ocr_agent_spark.sources.snapshot.json.dump",
               side_effect=KeyboardInterrupt):
        with pytest.raises(KeyboardInterrupt):
            store.commit(spark.createDataFrame([(2,)], "id long"), run_id="r2")

    # No snap-000001 exists (partial write never linked); store readable.
    names = sorted(os.listdir(store.snap_dir))
    assert [n for n in names if n.startswith("snap-")] == ["snap-000000.json"]
    assert store.read(spark).count() == 1
    with open(os.path.join(store.snap_dir, "snap-000000.json")) as fh:
        json.load(fh)  # still valid JSON

    # Retry succeeds (data dir from the failed attempt is pre-cleaned
    # by the run_id guard being per-commit — use a fresh run id).
    store.commit(spark.createDataFrame([(2,)], "id long"), run_id="r2b")
    assert store.read(spark).count() == 2


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style schema-on-manifest: a later run adds a column →
    reads resolve by the CURRENT schema (old rows null-fill); time
    travel reads with that era's schema; compaction preserves both the
    schema record and the null-filled rows."""
    store = SnapshotStore(str(tmp_path / "evo"))
    store.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string"),
        run_id="r1",
    )
    store.commit(
        spark.createDataFrame([(3, "c", "en")],
                              "id long, text string, lang string"),
        run_id="r2",
    )

    now = store.read(spark)
    assert now.columns == ["id", "text", "lang"]
    rows = {r["id"]: r["lang"] for r in now.collect()}
    assert rows == {1: None, 2: None, 3: "en"}

    era0 = store.read(spark, as_of_seq=0)
    assert era0.columns == ["id", "text"]  # pre-evolution schema
    assert era0.count() == 2

    store.compact(spark, num_files=1)
    after = store.read(spark)
    assert after.columns == ["id", "text", "lang"]
    assert {r["id"]: r["lang"] for r in after.collect()} == rows


def test_schema_recorded_in_manifest(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "rec"))
    store.commit(spark.createDataFrame([(1,)], "id long"), run_id="r1")
    m = store.latest_manifest()
    assert [f["name"] for f in m["schema"]["fields"]] == ["id"]
