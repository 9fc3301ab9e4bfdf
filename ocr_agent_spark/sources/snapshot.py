"""Snapshot-manifest table store: Iceberg-style commits over plain parquet.

No Iceberg/Delta jars ship in this environment, so the engine carries a
minimal snapshot layer reproducing the two Iceberg behaviors the north
rule requires:

1. **Atomic commit** — data files are written to a run-scoped directory
   first; the manifest JSON is fully written + fsynced under a temp
   name, then hard-linked to its sequenced name in ``_snapshots/``
   (atomic; EEXIST if a racing writer won). Readers only ever see
   complete manifests, so a job killed at any point — even mid-write —
   leaves no partial state visible.
2. **Snapshot resume** — a re-run anti-joins its task list against the
   keys already committed (the Spark translation of the reference's
   "fetch next pending" scheduler, queue_store.py:125-138 + the status
   machine at :140-170: *completion is implied by presence in the
   committed snapshot*, not by a mutable status column).

Layout::

    <root>/
      data/<run_id>/part-*.parquet      # written, then committed
      data/<run_id>/_lineage.json       # the run's lineage rows (optional)
      _snapshots/snap-000007.json       # {"seq":7,"runs":[...],"run_id":...}

A run's lineage sidecar is written into its run dir before the manifest
publish, so it becomes visible exactly when the run's data does (Spark's
file index skips ``_``-prefixed files: data reads never see it).

Manifests are cumulative (each lists all live run dirs), so reading =
parse latest manifest + read its run dirs. Concurrency model: single
writer (same as the reference's one-job-per-host gate, main.rs:1287-1292),
enforced optimistically — the manifest publish is a write-then-hard-link
onto the sequenced name, so a second writer racing on the same base
snapshot gets ``CommitConflictError`` instead of silently clobbering a
commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


LINEAGE_FILE = "_lineage.json"


class CommitConflictError(RuntimeError):
    """A concurrent writer published the same snapshot seq first."""


def _write_json_durably(path: str, obj) -> None:
    """Write ``obj`` under a hidden temp name, fsync, then rename."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- manifest bookkeeping ---------------------------------------------

    def _manifests(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.snap_dir)
            if f.startswith("snap-") and f.endswith(".json")
        )

    def latest_manifest(self) -> dict | None:
        names = self._manifests()
        if not names:
            return None
        with open(os.path.join(self.snap_dir, names[-1])) as fh:
            return json.load(fh)

    def committed_run_dirs(self) -> list[str]:
        manifest = self.latest_manifest()
        if manifest is None:
            return []
        return [os.path.join(self.data_dir, r) for r in manifest["runs"]]

    # -- write path ---------------------------------------------------------

    def _publish(self, manifest: dict, seq: int) -> None:
        """Atomic CAS manifest publish (write+fsync temp, hard-link).

        On a lost race the run dir this manifest would have published
        is referenced by no manifest, so ``expire_snapshots`` would
        never reclaim it: it is removed before ``CommitConflictError``
        is raised. A publish that fails any other way (a kill) leaves
        the dir, and ``commit`` replaces it on a retry."""
        target = os.path.join(self.snap_dir, f"snap-{seq:06d}.json")
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        try:
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, target)
            except FileExistsError:
                shutil.rmtree(os.path.join(self.data_dir, manifest["run_id"]),
                              ignore_errors=True)
                raise CommitConflictError(
                    f"snapshot seq={seq} already published (concurrent "
                    f"writer?); re-read the latest manifest and retry"
                ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass  # a hard kill may still strand a .tmp; reads ignore it

    def commit(self, df: DataFrame, run_id: str | None = None,
               settings: dict | None = None,
               lineage: Callable[[], list[dict]] | None = None) -> str:
        """Write ``df`` under a fresh run dir, then atomically publish it.

        A ``run_id`` that a manifest on disk names (live, or folded by a
        ``compact`` not yet expired) raises ``ValueError``; a dir of
        that name no manifest names is a stranded write and is replaced.
        Two writers using one run_id at the same time is misuse.

        ``lineage`` (optional) is called once the data is written; its
        rows go to the run dir's ``_lineage.json`` before the publish.

        ``settings`` (optional, JSON-serializable) is recorded verbatim
        in the manifest — the per-job settings record the reference
        keeps in job.json (gui/src-tauri/src/main.rs:68-106), so a
        resumed run can check it is not silently merging output
        produced under a different config (e.g. math delimiter style).
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        run_dir = os.path.join(self.data_dir, run_id)
        if os.path.exists(run_dir):
            if any(run_id in m["runs"] for m in self.snapshots()):
                raise ValueError(f"run_id {run_id!r} already written")
            # No manifest names it: stranded by a writer killed before
            # its publish, so a retry under its run_id rewrites it.
            shutil.rmtree(run_dir)
        df.write.mode("errorifexists").parquet(run_dir)
        if lineage is not None:
            _write_json_durably(os.path.join(run_dir, LINEAGE_FILE), lineage())

        prev = self.latest_manifest()
        seq = (prev["seq"] + 1) if prev else 0
        runs = (list(prev["runs"]) if prev else []) + [run_id]
        manifest = {
            "seq": seq,
            "runs": runs,
            "run_id": run_id,
            "committed_unix_ms": int(time.time() * 1000),
            # Iceberg-style schema-on-manifest: the table's CURRENT
            # schema travels with the snapshot, so reads resolve
            # columns by name against it — old data files missing a
            # later-added column null-fill it, and time travel reads
            # with the schema of that era, not today's.
            "schema": json.loads(df.schema.json()),
        }
        if settings is not None:
            manifest["settings"] = settings
        elif prev and "settings" in prev:
            # Settings are sticky across commits until overridden — a
            # resume that doesn't restate them inherits the record.
            manifest["settings"] = prev["settings"]
        # CAS publish, atomic AND exclusive: the manifest is fully
        # written + fsynced to a temp name first, then HARD-LINKED to
        # the sequenced name. os.link fails with EEXIST if another
        # writer won the race (→ CommitConflictError, same optimistic-
        # concurrency shape as Iceberg's commit — re-read and re-base to
        # retry), and because the link only ever exposes a complete
        # file, a crash at ANY point (including SIGKILL mid-write, which
        # a create-then-write would turn into a truncated manifest
        # permanently occupying the seq) leaves no partial state
        # visible. The store is still documented single-writer
        # (reference's one-job gate, main.rs:1287-1292) — the guard
        # turns concurrent misuse into a loud failure.
        self._publish(manifest, seq)
        return run_id

    def compact(self, spark: SparkSession, num_files: int | None = None) -> str:
        """Rewrite the live table into ONE run dir and publish it.

        The maintenance half of the snapshot design (Iceberg's
        rewrite_data_files analogue): a long-lived table accumulates one
        run dir per batch commit — the streaming sink commits one per
        MICRO-BATCH — and at scale the file count, not the byte count,
        comes to dominate planning and open() cost on every read.
        Compaction reads the current table once, writes it back as a
        single run (``num_files`` output files via coalesce; default
        keeps the read's scan partitioning), and publishes a manifest
        listing only that run. History is preserved: older
        manifests still reference the old run dirs (time travel works
        until ``expire_snapshots`` reclaims them). Readers are never
        disturbed — the publish is the same atomic CAS as any commit.

        The folded runs' lineage sidecars are concatenated into the
        compacted run's, each row keeping its original ``run_id``.

        Returns the compacted run_id. No-op error if the table is empty.
        """
        # Base BOTH the data read and the published seq on one manifest
        # snapshot: if a commit lands while the rewrite runs, the CAS on
        # seq+1 fails loudly instead of publishing a compaction that
        # silently drops the interleaved commit's rows.
        prev = self.latest_manifest()
        if prev is None or not prev["runs"]:
            raise ValueError("nothing to compact: table is empty")
        reader = spark.read
        if "schema" in prev:
            # rewrite under the recorded schema so a post-evolution
            # compaction null-fills old files' missing columns instead
            # of sampling one footer and dropping the new column
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(prev["schema"]))
        df = reader.parquet(
            *[os.path.join(self.data_dir, r) for r in prev["runs"]]
        )
        if num_files is not None:
            df = df.coalesce(num_files)
        run_id = f"compact-{uuid.uuid4().hex[:12]}"
        run_dir = os.path.join(self.data_dir, run_id)
        df.write.mode("errorifexists").parquet(run_dir)
        lineage = self._lineage_of(prev["runs"])
        if lineage:
            _write_json_durably(os.path.join(run_dir, LINEAGE_FILE), lineage)

        seq = prev["seq"] + 1
        manifest = {
            "seq": seq,
            "runs": [run_id],
            "run_id": run_id,
            "committed_unix_ms": int(time.time() * 1000),
            "compacted_from": list(prev["runs"]),
        }
        if "settings" in prev:  # maintenance must not drop the job config
            manifest["settings"] = prev["settings"]
        if "schema" in prev:  # nor the table schema record
            manifest["schema"] = prev["schema"]
        self._publish(manifest, seq)
        return run_id

    def expire_snapshots(self, keep_latest: int = 1) -> list[str]:
        """Drop manifests older than the newest ``keep_latest`` and
        delete run dirs no surviving manifest references.

        The retention half of compaction (Iceberg's expire_snapshots):
        time travel costs disk until you let it go. Never touches a dir
        referenced by any KEPT manifest, so the latest table state (and
        any kept history) stays fully readable. Returns deleted run ids.
        """
        if keep_latest < 1:
            raise ValueError("keep_latest must be >= 1")
        names = self._manifests()
        if len(names) <= keep_latest:
            return []
        drop, keep = names[:-keep_latest], names[-keep_latest:]
        live: set[str] = set()
        for name in keep:
            with open(os.path.join(self.snap_dir, name)) as fh:
                live.update(json.load(fh)["runs"])
        # Manifests go FIRST, data second: a crash mid-expire then
        # leaves only benign orphan dirs (invisible to readers), never a
        # surviving manifest pointing at deleted data — the module's
        # no-partial-state-visible invariant.
        dead: set[str] = set()
        for name in drop:
            with open(os.path.join(self.snap_dir, name)) as fh:
                dead.update(json.load(fh)["runs"])
            os.unlink(os.path.join(self.snap_dir, name))
        deleted = []
        for run in sorted(dead - live):
            run_dir = os.path.join(self.data_dir, run)
            if os.path.exists(run_dir):
                shutil.rmtree(run_dir)
            deleted.append(run)
        return deleted

    def reset(self) -> None:
        """Destructive reset (S12): drop all snapshots and data.

        Path-safety guard mirrors the reference's
        ``_delete_output_paths_safely`` (cli.py:356-371): refuses to
        remove anything unless the directory layout is exactly the one
        this store created (data/ + _snapshots/ with snap-*.json)."""
        entries = set(os.listdir(self.root))
        if not entries <= {"data", "_snapshots"}:
            raise ValueError(
                f"refusing reset: unexpected entries in {self.root!r}: "
                f"{sorted(entries - {'data', '_snapshots'})}"
            )
        for name in os.listdir(self.snap_dir):
            if not (name.startswith("snap-") or name.startswith(".tmp-")):
                raise ValueError(
                    f"refusing reset: foreign file in _snapshots: {name!r}"
                )
        shutil.rmtree(self.data_dir)
        shutil.rmtree(self.snap_dir)
        os.makedirs(self.data_dir)
        os.makedirs(self.snap_dir)

    # -- read path ----------------------------------------------------------

    def read(self, spark: SparkSession, as_of_seq: int | None = None) -> DataFrame | None:
        """DataFrame over committed snapshots (None if table empty).

        ``as_of_seq`` gives Iceberg-style time travel: read the table
        exactly as it was at snapshot ``seq`` (each manifest is
        cumulative, so this is just 'parse manifest N instead of the
        latest')."""
        if as_of_seq is None:
            # ONE manifest load drives both schema and dirs — loading
            # them separately can straddle a concurrent commit and read
            # new run dirs under the older recorded schema
            manifest = self.latest_manifest()
            dirs = (
                [os.path.join(self.data_dir, r) for r in manifest["runs"]]
                if manifest else []
            )
        else:
            name = f"snap-{as_of_seq:06d}.json"
            path = os.path.join(self.snap_dir, name)
            if not os.path.exists(path):
                raise ValueError(f"no snapshot with seq={as_of_seq}")
            with open(path) as fh:
                manifest = json.load(fh)
            dirs = [os.path.join(self.data_dir, r) for r in manifest["runs"]]
        if not dirs:
            return None
        reader = spark.read
        if manifest is not None and "schema" in manifest:
            # resolve by the manifest's recorded schema (see commit):
            # schema EVOLUTION — files predating an added column
            # null-fill it; a time-travel read uses that era's schema.
            # Also skips the footer-sampling schema inference pass.
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        return reader.parquet(*dirs)

    def _lineage_of(self, runs: list[str]) -> list[dict]:
        """Concatenated lineage sidecars of ``runs`` (runs without one
        contribute nothing)."""
        rows = []
        for run in runs:
            path = os.path.join(self.data_dir, run, LINEAGE_FILE)
            if os.path.exists(path):
                with open(path) as fh:
                    rows.extend(json.load(fh))
        return rows

    def lineage(self) -> list[dict]:
        """Lineage rows of the latest snapshot's runs (driver-side JSON;
        one small sidecar per live run dir)."""
        manifest = self.latest_manifest()
        return self._lineage_of(manifest["runs"]) if manifest else []

    def snapshots(self) -> list[dict]:
        """Snapshot history (the GUI job-state listing analogue)."""
        out = []
        for name in self._manifests():
            with open(os.path.join(self.snap_dir, name)) as fh:
                out.append(json.load(fh))
        return out

    def anti_join_committed(
        self, tasks: DataFrame, keys: list[str], spark: SparkSession
    ) -> DataFrame:
        """Rows of ``tasks`` whose ``keys`` match no row of the latest
        snapshot (resume, J2).

        ``keys`` must be content-derived — never file paths or
        execution-order ids — so resume is correct across repartitioning;
        the extraction job passes ``["url"]``, since a document's pages
        are committed together. The committed side is projected to the
        join keys only (column pruning keeps the fat ``text`` column out
        of the shuffle/broadcast) and is not de-duplicated: a left-anti
        join's result does not depend on duplicate keys on its right, so
        a url with many committed pages costs no aggregate or shuffle.
        """
        committed = self.read(spark)
        if committed is None:
            return tasks
        return tasks.join(committed.select(*keys), on=keys, how="left_anti")
