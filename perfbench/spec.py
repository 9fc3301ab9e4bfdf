"""What each per-layer metric is expected to move.

``BENCHMARK.json`` holds the workloads and every metric's name, unit and
direction; ``MOVES`` adds what it cannot hold: for each per-layer metric
(``--trace 1``), the end-to-end metric it should move and the workload
where it should move it ("none" for diagnostics that move nothing), so a
change to one layer can state its prediction by these names before it is
measured.
"""

from __future__ import annotations

# per-layer metric -> (end-to-end metric it moves, workload(s))
MOVES = {
    "kernel.html_extract.docs": ("docs_per_s", "html_crawl"),
    "kernel.html_extract.busy_s": ("docs_per_s,run_s", "html_crawl"),
    "kernel.minipdf.pages": ("run_s", "html_crawl"),
    "kernel.minipdf.busy_s": ("run_s", "html_crawl"),
    "kernel.mathdown.busy_s": ("run_s", "resume_merge"),
    "session.passthrough_s": ("docs_per_s", "html_crawl"),
    "operators.extract.wall_s": ("run_s", "html_crawl"),
    "operators.extract.rows_out": ("run_s", "html_crawl"),
    "operators.extract.failed_rows": ("run_s", "html_crawl"),
    "operators.extract.partitions": ("run_s", "html_crawl"),
    "operators.extract.task_skew": ("run_s", "html_crawl"),
    "sources.snapshot.anti_join_s": ("job_s,run_s", "resume_merge"),
    "sources.snapshot.commit_s": ("job_s,run_s", "resume_merge"),
    "sources.snapshot.read_s": ("run_s", "resume_merge"),
    "sources.snapshot.files_written": ("job_s", "resume_merge"),
    "sources.snapshot.bytes_written": ("job_s", "resume_merge"),
    "sources.snapshot.run_dirs": ("job_s,run_s", "resume_merge"),
    "operators.merge.wall_s": ("run_s", "resume_merge,html_crawl"),
    "operators.merge.bytes_out": ("run_s", "resume_merge"),
    "operators.merge.partitions": ("run_s", "resume_merge"),
    "pipeline.self_s": ("job_s", "resume_merge"),
    "spark.stages": ("run_s", "all"),
    "spark.tasks": ("run_s", "all"),
    "scaling.docs_per_s_1core": ("docs_per_s", "all"),
    "scaling.efficiency": ("docs_per_s", "all"),
    "trace.overhead_s": ("none", "all"),
    "host.loadavg_start": ("none", "all"),
    "host.loadavg_end": ("none", "all"),
    "host.cpu_control_start": ("none", "all"),
    "host.cpu_control_end": ("none", "all"),
}
