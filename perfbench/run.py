"""Extraction-job benchmark: what a user of ``python -m ocr_agent_spark run``
waits for — ``pipeline.run_extraction_job`` followed by
``pipeline.merge_job(merged_path=..., return_text=False)`` — in one driver
process at ``local[N]``, N = min(3, usable CPUs) (see ``usable_cores``).

Usage (from the repository root)::

    python3 perfbench/run.py --workload html_crawl --seed 3 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 3      # every workload

The benchmark generates its input from ``--seed`` (``perfbench/corpus.py``)
and hands the program only the generated parquet; seed ``n`` selects
corpus ``n mod corpus.SEEDS``. Every timed iteration starts from the
workload's starting job root, and its merged artifact and committed
``(kind, status)`` counts are compared with the oracle results pinned
for that corpus in ``perfbench/expected.json`` (``perfbench/pin.py``).

``--trace 0`` repeats job + merge until ``--seconds`` have passed, at
least once, and reports medians of the end-to-end metrics. ``--trace 1``
makes one traced iteration between two untraced ones, times each layer's
public functions from outside, runs the kernels single-threaded, repeats
the job at ``local[1]`` and prints the per-layer metrics
(what each should move: ``perfbench/spec.py``).
The spans go to ``.perfbench/traces/<workload>-seed<seed>.json``.

Workloads, metric names and units, and the default ``--seconds`` come
from ``BENCHMARK.json``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a human-readable summary with the host weather.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
MIN_TIMED_ITERATIONS = 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _parquet_files(path: str) -> tuple[int, int]:
    """Number and total size of the parquet data files under ``path``."""
    n = size = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


class Bench:
    """One workload at one seed in one driver process."""

    def __init__(self, workload: str, seed: int, work: str, cores: int) -> None:
        from perfbench import corpus

        self.workload, self.work, self.cores = workload, work, cores
        self.seed = seed % corpus.SEEDS
        self.spark = None
        self.next_root: str | None = None
        self.n_roots = 0
        self.corpus = corpus.build_corpus(workload, self.seed)
        docs = self.corpus.docs
        self.paths = {"pages": os.path.join(work, "in", "pages"),
                      "warmup": os.path.join(work, "in", "warmup"),
                      "pending": os.path.join(work, "in", "pending")}
        corpus.write_parquet(docs, self.paths["pages"])
        corpus.write_parquet([docs[i] for i in self.corpus.warmup], self.paths["warmup"])
        corpus.write_parquet([docs[i] for i in self.corpus.pending], self.paths["pending"])
        for k, idx in enumerate(self.corpus.prior):
            self.paths[f"prior{k}"] = os.path.join(work, "in", f"prior{k}")
            corpus.write_parquet([docs[i] for i in idx], self.paths[f"prior{k}"])
        self.start_root = os.path.join(work, "start_root")
        self.expected = self._expected()

    # -- expected outputs -------------------------------------------------

    def _expected(self) -> dict:
        with open(os.path.join(ROOT, "perfbench", "expected.json")) as fh:
            pinned = json.load(fh).get(self.workload, {}).get(str(self.seed))
        if pinned is None:
            raise SystemExit(f"no pinned outputs for {self.workload} corpus "
                             f"{self.seed}: run perfbench/pin.py")
        return pinned

    # -- session and set-up -----------------------------------------------

    def start_session(self, cores: int) -> None:
        from ocr_agent_spark.session import build_spark

        if self.spark is not None:
            self.spark.stop()
        local = os.path.join(self.work, "spark-local")
        self.spark = build_spark(
            app_name=f"perfbench-{self.workload}", cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # A fixed, pre-touched heap: the JVM's resident size is
                # then constant and peak_rss_mb moves with the Python
                # side and off-heap memory, not with heap-growth timing.
                # No perf-data file: the JVM would write it under /tmp.
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions":
                    f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={local}",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def _root(self) -> str:
        self.n_roots += 1
        return os.path.join(self.work, f"root{self.n_roots}")

    def restore(self) -> str:
        """A job root in the workload's starting state."""
        if self.next_root is not None:
            root, self.next_root = self.next_root, None
            return root
        root = self._root()
        if os.path.isdir(self.start_root):
            shutil.copytree(self.start_root, root)
        else:
            os.makedirs(root)
        return root

    def warm_up(self) -> None:
        """One job over a small slice of the input, on a scratch root."""
        from ocr_agent_spark.pipeline import run_extraction_job

        scratch = self._root()
        run_extraction_job(self.spark, self.pages("warmup"), scratch, run_id="warmup")
        shutil.rmtree(scratch)

    def setup(self) -> float:
        """Set-up time: session start, the warm-up pass and restoring the
        first iteration's starting job root.

        A fresh workload's warm-up pass is ``warm_up``. The resume
        workload's is building its committed starting state: one job per
        prior-run slice, by the program itself. Neither runs the merge,
        so the first timed iteration pays for the merge's first call in
        the session (about 1.5 s over a warm one on a 4-vCPU host) on
        every run alike. Warming the merge as well would add about 8 s
        to every run, and a whole untimed iteration about 20 s.
        """
        from ocr_agent_spark.pipeline import run_extraction_job

        t0 = time.perf_counter()
        self.start_session(self.cores)
        for k in range(len(self.corpus.prior)):
            run_extraction_job(self.spark, self.pages(f"prior{k}"),
                               self.start_root, run_id=f"prior{k}")
        if not self.corpus.prior:
            self.warm_up()
        self.next_root = self.restore()
        self.setup_s = time.perf_counter() - t0
        return self.setup_s

    # -- one iteration ----------------------------------------------------

    def pages(self, name: str = "pages"):
        return self.spark.read.parquet(self.paths[name])

    def iteration(self, run_id: str, merge: bool = True) -> dict:
        """Job (+ merge) from the starting state; timed and checked."""
        from ocr_agent_spark.pipeline import merge_job, run_extraction_job

        root = self.restore()
        merged = os.path.join(root, "merged.md")
        pages = self.pages()
        t0 = time.perf_counter()
        res = run_extraction_job(self.spark, pages, root, run_id=run_id)
        t1 = time.perf_counter()
        if merge:
            merge_job(self.spark, root, merged_path=merged, return_text=False)
        t2 = time.perf_counter()
        out = {"root": root, "job_s": t1 - t0, "run_s": t2 - t0,
               "errors": self.check(root, run_id, res, merged if merge else None)}
        out["docs_per_s"] = self.expected["pending_rows"] / out["job_s"]
        return out

    def check(self, root: str, run_id: str, res, merged: str | None) -> list[str]:
        """Compare one iteration's output with the expected outputs: the
        documents the job processed, the task rows its run committed, the
        table's ``(kind, status)`` counts and the merged artifact."""
        import hashlib

        from pyspark.sql import functions as F

        from ocr_agent_spark.pipeline import read_extracted

        exp, errors = self.expected, []
        if res.pages_processed != exp["pending_docs"]:
            errors.append(f"pages_processed {res.pages_processed} != {exp['pending_docs']}")
        in_run = F.input_file_name().contains(f"/{run_id}/").alias("in_run")
        counts, rows = {}, 0
        for r in (read_extracted(self.spark, root)
                  .groupBy("kind", "status", in_run).count().collect()):
            key = f"{r['kind']}/{r['status']}"
            counts[key] = counts.get(key, 0) + r["count"]
            rows += r["count"] if r["in_run"] else 0
        if rows != exp["pending_rows"]:
            errors.append(f"committed rows {rows} != {exp['pending_rows']}")
        if dict(sorted(counts.items())) != exp["counts"]:
            errors.append(f"(kind, status) counts {counts} != {exp['counts']}")
        if merged is not None:
            digest = hashlib.sha256()
            with open(merged, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    digest.update(block)
            if digest.hexdigest() != exp["merged_sha256"]:
                errors.append("merged artifact sha256 differs from the oracle")
        return errors

    # -- the two kinds of run ---------------------------------------------

    def timed(self, seconds: float) -> tuple[dict, int, int]:
        from perfbench.host import PeakRss

        its, raised, peaks = [], 0, []
        with PeakRss() as rss:
            start = time.perf_counter()
            while (time.perf_counter() - start < seconds
                   or len(its) + raised < MIN_TIMED_ITERATIONS):
                k = len(its) + raised
                try:
                    it = self.iteration(f"timed{k}")
                except Exception:
                    traceback.print_exc()
                    raised += 1
                    continue
                finally:
                    peaks.append(rss.take())
                shutil.rmtree(it["root"])
                if it["errors"]:
                    print(f"iteration {k}: {it['errors']}", file=sys.stderr)
                its.append(it)
        if not its:
            raise RuntimeError("no iteration completed")
        metrics = {
            "run_s": statistics.median([i["run_s"] for i in its]),
            "job_s": statistics.median([i["job_s"] for i in its]),
            "docs_per_s": statistics.median([i["docs_per_s"] for i in its]),
            "setup_s": self.setup_s,
            "peak_rss_mb": statistics.median(peaks) / 2**20,
        }
        self.samples = {"iterations": len(its),
                        "run_s_all": [round(i["run_s"], 3) for i in its]}
        failed = raised + sum(1 for i in its if i["errors"])
        return metrics, len(its) + raised, failed

    def traced(self, tracer) -> tuple[dict, int, int]:
        from ocr_agent_spark.operators.extract import extract_pages_auto
        from ocr_agent_spark.pipeline import (
            extraction_store,
            lineage_store,
            merge_job,
            read_lineage,
            run_extraction_job,
        )
        from ocr_agent_spark.sources.snapshot import SnapshotStore

        from perfbench.oracle import expected_outputs
        from perfbench.trace import patched_layers

        m: dict[str, float] = {}
        attempted = failed = 0

        def account(errors: list[str]) -> None:
            nonlocal attempted, failed
            attempted += 1
            if errors:
                print(f"traced run: {errors}", file=sys.stderr)
                failed += 1

        # One traced iteration between two untraced ones: the job's layer
        # calls get spans. The first untraced iteration absorbs the cold
        # merge; the second is the untraced time the traced one is
        # compared with.
        untraced = self.iteration("untraced0")
        account(untraced["errors"])
        shutil.rmtree(untraced["root"])
        sc = self.spark.sparkContext
        root = self.restore()
        merged = os.path.join(root, "merged.md")
        pages = self.pages()
        sc.setJobGroup("perfbench-traced", "traced iteration")
        with tracer.span("run") as run_span, patched_layers(tracer):
            with tracer.span("pipeline.run_extraction_job") as job_span:
                res = run_extraction_job(self.spark, pages, root, run_id="traced")
            with tracer.span("pipeline.merge_job"):
                merge_job(self.spark, root, merged_path=merged, return_text=False)
        sc.setLocalProperty("spark.jobGroup.id", None)
        account(self.check(root, "traced", res, merged))
        traced_run_s = run_span.end - run_span.start
        after = self.iteration("untraced1")
        account(after["errors"])
        shutil.rmtree(after["root"])
        m["trace.overhead_s"] = traced_run_s - after["run_s"]
        m["pipeline.self_s"] = tracer.self_time(job_span)
        m["operators.merge.wall_s"] = tracer.total("operators.merge")
        m["operators.merge.bytes_out"] = os.path.getsize(merged)
        m["operators.merge.partitions"] = int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))

        tracker = sc.statusTracker()
        stages = tasks = 0
        for jid in tracker.getJobIdsForGroup("perfbench-traced"):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        m["spark.stages"], m["spark.tasks"] = stages, tasks

        lineage = [r for r in read_lineage(self.spark, root)
                   .filter("run_id = 'traced'").collect()]
        walls = sorted(r["wall_time_ms"] for r in lineage)
        m["operators.extract.partitions"] = len(lineage)
        m["operators.extract.task_skew"] = walls[-1] / max(statistics.median(walls), 1)
        m["operators.extract.rows_out"] = sum(r["doc_count"] for r in lineage)
        run_dir = os.path.join(extraction_store(root).data_dir, "traced")
        m["operators.extract.failed_rows"] = (
            self.spark.read.parquet(run_dir).filter("status = 'failed'").count())
        files, size = _parquet_files(run_dir)
        lfiles, lsize = _parquet_files(os.path.join(lineage_store(root).data_dir, "traced"))
        m["sources.snapshot.files_written"] = files + lfiles
        m["sources.snapshot.bytes_written"] = size + lsize
        m["sources.snapshot.run_dirs"] = len(extraction_store(root).committed_run_dirs())

        # Each layer alone, called from outside, into a noop sink.
        with tracer.span("layers"):
            with tracer.span("session.passthrough") as s:
                _noop(pages.select("url", "warc_ts", "html").mapInPandas(
                    _identity, schema="url string, warc_ts timestamp, html binary"))
            m["session.passthrough_s"] = s.end - s.start
            with tracer.span("operators.extract.noop") as s:
                _noop(extract_pages_auto(self.pages("pending")))
            m["operators.extract.wall_s"] = s.end - s.start
            start = self.restore()
            with tracer.span("sources.snapshot.anti_join_alone") as s:
                _noop(extraction_store(start).anti_join_committed(
                    pages, ["url"], self.spark).select("url"))
            m["sources.snapshot.anti_join_s"] = s.end - s.start
            shutil.rmtree(start)
            scratch = SnapshotStore(os.path.join(self.work, "commit_probe"))
            committed = self.spark.read.parquet(run_dir)
            with tracer.span("sources.snapshot.commit_alone") as s:
                scratch.commit(committed, run_id="probe")
            m["sources.snapshot.commit_s"] = s.end - s.start
            with tracer.span("sources.snapshot.read_alone") as s:
                _noop(extraction_store(root).read(self.spark))
            m["sources.snapshot.read_s"] = s.end - s.start
        shutil.rmtree(root)

        # Kernels single-threaded in this process (also the oracle).
        with tracer.span("kernels"):
            exp = expected_outputs(self.corpus)
        account([] if exp.pin() == self.expected else
                ["oracle result differs from the pinned expectation"])
        k = exp.kernels
        m["kernel.html_extract.docs"] = k.html_docs
        m["kernel.html_extract.busy_s"] = k.html_busy_s
        m["kernel.minipdf.pages"] = k.pdf_pages
        m["kernel.minipdf.busy_s"] = k.pdf_busy_s
        m["kernel.mathdown.busy_s"] = k.mathdown_busy_s

        # The same job at one core, after a warm-up in the new session
        # like the N-core one had: the scaling baseline.
        with tracer.span("scaling.local1"):
            self.start_session(1)
            self.warm_up()
            single = self.iteration("single", merge=False)
        account(single["errors"])
        shutil.rmtree(single["root"])
        m["scaling.docs_per_s_1core"] = single["docs_per_s"]
        m["scaling.efficiency"] = after["docs_per_s"] / (self.cores * single["docs_per_s"])
        return m, attempted, failed

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def usable_cores() -> int:
    """``local[N]`` parallelism: N = min(3, usable CPUs).

    On a 4-CPU host, local[4] leaves no CPU for the driver, the JVM's
    compiler and GC threads or the benchmark itself, and their contention
    dominated the spread: the coefficient of variation of warm iterations
    in one process was 0.135 at N=4, 0.087 at N=3 and 0.041 at N=2. N=2
    halves the merge's task throughput, which left too few iterations in
    the time a run may take, so N=3.
    """
    return min(3, len(os.sched_getaffinity(0)))


def run_one(args) -> int:
    try:
        import ocr_agent_spark.pipeline  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"the program is not importable here: {exc}", file=sys.stderr)
        return 2

    from perfbench.host import cpu_control, loadavg
    from perfbench.trace import Tracer

    cores = usable_cores()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # wins over the conf
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    weather = {"host.loadavg_start": loadavg(),
               "host.cpu_control_start": cpu_control(cores)}

    tracer = Tracer(args.workload, args.seed)
    bench = None
    try:
        t0 = time.perf_counter()
        bench = Bench(args.workload, args.seed, work, cores)
        gen_s = time.perf_counter() - t0
        bench.setup()
        if args.trace:
            metrics, attempted, failed = bench.traced(tracer)
        else:
            metrics, attempted, failed = bench.timed(args.seconds)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    weather["host.loadavg_end"] = loadavg()
    weather["host.cpu_control_end"] = cpu_control(cores)

    if args.trace:
        metrics.update(weather)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{args.workload}-seed{args.seed}.json"), metrics)
    units = {m["name"]: m["unit"]
             for m in BENCH["per_layer" if args.trace else "end_to_end"]}
    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(missing)}")

    summary = " ".join(f"{k}={metrics[k]:.4g}[{units[k]}]" for k in units)
    extra = (f"setup_s={bench.setup_s:.2f}" if args.trace else
             f"samples={bench.samples['iterations']} run_s_all={bench.samples['run_s_all']}")
    print(f"[{args.workload} seed={args.seed} cores={cores} trace={args.trace}] "
          f"{summary} fail_ratio={failed}/{attempted} correct={failed == 0} "
          f"gen_s={gen_s:.2f} {extra} "
          f"weather={json.dumps({k: round(v, 2) for k, v in weather.items()})}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own driver process, one after another."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[-2:]), flush=True)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
