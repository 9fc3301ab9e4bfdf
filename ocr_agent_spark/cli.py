"""CLI with the reference's command surface, Spark-backed.

Mirrors ``python -m ocr_agent.cli {enqueue,run,status,reset}``
(/root/reference/src/ocr_agent/cli.py:37-120) so a reference user can
switch 1:1:

- ``enqueue <pages.parquet ...>`` — register input pages into the job
  root (the enqueue phase; exit code 2 when nothing was enqueued,
  cli.py:32,187-192)
- ``run``    — resumable extraction + ordered merge (the run phase)
- ``status`` — status histogram + progress/ETA (queue_store.py:191-196,
  main.rs:800-828)
- ``reset``  — guarded destructive reset (cli.py:310-371)

Usage: ``python -m ocr_agent_spark <cmd> --job-root DIR ...``
"""

from __future__ import annotations

import argparse
import json
import os
import sys

EXIT_CODE_NOTHING_ENQUEUED = 2

DEFAULT_MATH_DELIMITER_STYLE = "dollar"
MATH_DELIMITER_STYLES = ("dollar", "latex")


def effective_math_delimiter_style(flag_value: str | None) -> str:
    """Resolve the math delimiter style: explicit flag > environment >
    default, with the reference's unknown-value fallback.

    Mirrors MarkdownPostProcessingSettings.from_environment
    (reference config.py:110-122): OCR_AGENT_MATH_DELIMITER_STYLE is
    stripped + lowercased, and an unknown value falls back to the safe
    default rather than erroring — so a spark-submit driver with env
    passthrough (the reference's docker pattern) configures the style
    with no CLI change.
    """
    if flag_value is not None:
        return flag_value
    raw = os.getenv("OCR_AGENT_MATH_DELIMITER_STYLE",
                    DEFAULT_MATH_DELIMITER_STYLE).strip().lower()
    return raw if raw in MATH_DELIMITER_STYLES else DEFAULT_MATH_DELIMITER_STYLE


def _spark(cores: int | None):
    from ocr_agent_spark.session import build_spark

    spark = build_spark(
        app_name="ocr-agent-spark-cli", cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _inputs_manifest(job_root: str) -> str:
    return os.path.join(job_root, "inputs.json")


def _split_inputs(paths: list[str]) -> tuple[list[str], list[str]]:
    """Manifest paths → (parquet bundles, WARC crawl archives)."""
    warc = [p for p in paths if p.lower().endswith((".warc", ".warc.gz"))]
    warc_set = set(warc)
    return [p for p in paths if p not in warc_set], warc


def _load_pages(spark, paths: list[str]):
    """Manifest paths → one pages DataFrame. Parquet bundles and WARC
    crawl archives mix freely in a job; WARC rows are normalized to the
    same input-hint schema at the source (sources/warc.py)."""
    from ocr_agent_spark.operators.ingest import has_doc_meta, with_doc_meta

    parquet, warc = _split_inputs(paths)
    frames = []
    if parquet:
        frames.append(spark.read.parquet(*parquet))
    if warc:
        from ocr_agent_spark.sources.warc import read_warc

        frames.append(read_warc(spark, warc))
    # Every frame gets the ingest-time routing metadata (doc_bytes,
    # is_pdf): a frame without it would union to NULLs, which the
    # giant-PDF router reads as "not giant".
    frames = [f if has_doc_meta(f) else with_doc_meta(f) for f in frames]
    df = frames[0]
    for other in frames[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    return df


def cmd_enqueue(args) -> int:
    # Full S2 triage (reference InputDiscoveryReport, input_discovery.py:
    # 56-97): classify every input into supported / missing /
    # unsupported / empty_dir / unknown and print the reference-shaped
    # diagnostic block before enqueueing anything. This engine's page
    # bundles are parquet, so that is the supported extension set.
    from ocr_agent_spark.operators.triage import (
        discover_input_rows,
        render_triage_report,
    )

    raw = [os.path.abspath(p) for p in args.inputs]
    paths, triage_rows = discover_input_rows(
        raw, supported_exts=("parquet", "warc", "warc.gz")
    )
    report = render_triage_report(triage_rows)
    if report:
        print(report, file=sys.stderr)
        if any(cat == "unsupported" or cat == "empty_dir" for _, cat in triage_rows):
            print("Supported file types:\n- Pages: .parquet\n"
                  "- Crawl archives: .warc, .warc.gz", file=sys.stderr)
    if not paths:
        print("nothing enqueued", file=sys.stderr)
        return EXIT_CODE_NOTHING_ENQUEUED

    spark = _spark(args.cores)
    # Count WITHOUT materializing pages: parquet counts are footer
    # metadata, WARC counts use the framing-only pass (no charset
    # transcode) — enqueueing 100 archives must not pay a full parse
    # that `run` immediately repeats (code-review r4 finding). The
    # triage pass also surfaces corrupt archives before run time.
    pq_paths, warc_paths = _split_inputs(paths)
    n = 0
    if pq_paths:
        n += spark.read.parquet(*pq_paths).count()
    if warc_paths:
        from ocr_agent_spark.sources.warc import read_warc_errors

        from pyspark.sql import functions as F

        tri_df = read_warc_errors(spark, warc_paths)
        # aggregate counts cluster-side; collect only a bounded head of
        # the error report — at 10^6 archives an unbounded collect of
        # per-archive rows is a driver funnel (advice r5)
        totals = tri_df.agg(
            F.sum("pages_emitted").alias("pages"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("n_err"),
        ).collect()[0]
        max_err_report = 20
        errs = (tri_df.filter(F.col("error").isNotNull())
                .orderBy("path").limit(max_err_report).collect())
        for r in errs:
            print(f"warning: {r['path']}: partial/unreadable archive "
                  f"({r['pages_emitted']} pages before: {r['error']})",
                  file=sys.stderr)
        n_err = int(totals["n_err"] or 0)
        if n_err > max_err_report:
            print(f"warning: ... and {n_err - max_err_report} more "
                  f"partial/unreadable archives ({n_err} total)",
                  file=sys.stderr)
        n += int(totals["pages"] or 0)
    if n == 0:
        print("nothing enqueued", file=sys.stderr)
        return EXIT_CODE_NOTHING_ENQUEUED
    os.makedirs(args.job_root, exist_ok=True)
    # Append semantics (the reference queue accumulates across enqueue
    # calls): merge the new paths into any existing manifest instead of
    # replacing the earlier batch.
    manifest = _inputs_manifest(args.job_root)
    existing: list[str] = []
    if os.path.exists(manifest):
        with open(manifest) as fh:
            existing = json.load(fh).get("paths", [])
    # temp + os.replace: a reader never sees a torn manifest
    tmp = f"{manifest}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"paths": sorted(set(existing) | set(paths))}, fh)
    os.replace(tmp, manifest)
    print(f"enqueued {n} pages from {len(paths)} input(s)")
    return 0


def cmd_run(args) -> int:
    from ocr_agent_spark.pipeline import (
        EmptyInputError,
        merge_job,
        run_extraction_job,
    )

    manifest = _inputs_manifest(args.job_root)
    if not os.path.exists(manifest):
        print("nothing enqueued (run `enqueue` first)", file=sys.stderr)
        return EXIT_CODE_NOTHING_ENQUEUED
    with open(manifest) as fh:
        paths = json.load(fh)["paths"]

    style = effective_math_delimiter_style(args.math_delimiter_style)
    spark = _spark(args.cores)
    pages = _load_pages(spark, paths)
    try:
        result = run_extraction_job(
            spark, pages, args.job_root,
            settings={"math_delimiter_style": style},
        )
    except EmptyInputError:
        print("nothing to process", file=sys.stderr)
        return EXIT_CODE_NOTHING_ENQUEUED
    merged_path = os.path.join(args.job_root, "output.md")
    merge_job(spark, args.job_root, style=style,
              merged_path=merged_path, return_text=False)
    print(
        f"processed={result.pages_processed} "
        f"skipped={result.pages_skipped_committed} merged={merged_path}"
    )
    return 0


def cmd_status(args) -> int:
    from ocr_agent_spark.operators.metrics import (
        lineage_report,
        progress_and_eta,
        status_histogram,
    )
    from ocr_agent_spark.pipeline import read_extracted, read_lineage

    spark = _spark(args.cores)
    extracted = read_extracted(spark, args.job_root)
    if extracted is None:
        print("status: empty (nothing committed)")
        return 0
    for row in status_histogram(extracted).collect():
        print(f"{row['status']}: {row['task_count']}")
    lineage = read_lineage(spark, args.job_root)
    if lineage is not None:
        total = extracted.count()
        eta = progress_and_eta(lineage, total).collect()[0]
        print(
            f"progress: {eta['progress']:.2%}  "
            f"avg_ms_per_doc: {eta['avg_ms_per_doc']:.2f}"
        )
        for r in lineage_report(lineage).collect():
            print(
                f"run {r['run_id']}: {r['docs']} docs, {r['bytes']} B, "
                f"{r['partitions']} partitions, {r['wall_ms']} ms, "
                f"{r['docs_per_sec']} docs/s"
            )
    return 0


def _job_stores(job_root: str) -> list:
    """The root's snapshot stores: the extraction table, plus the
    separate lineage table of roots written before lineage moved into
    the run dirs."""
    from ocr_agent_spark.pipeline import extraction_store, legacy_lineage_store

    legacy = legacy_lineage_store(job_root)
    return [extraction_store(job_root)] + ([legacy] if legacy else [])


def cmd_reset(args) -> int:
    if not args.yes:
        print("refusing reset without --yes", file=sys.stderr)
        return 1
    for store in _job_stores(args.job_root):
        store.reset()
    merged = os.path.join(args.job_root, "output.md")
    if os.path.exists(merged):
        os.remove(merged)
    print("reset complete")
    return 0


def cmd_compact(args) -> int:
    """Fold the extraction table (and a legacy lineage table) into one
    run dir each and, with --expire, reclaim snapshots beyond the
    retention window. The runs' lineage sidecars fold with their data.

    Maintenance for long-lived job roots (a streaming watcher commits
    one run dir per micro-batch; reads slow down with file count, not
    byte count). Beyond the reference's surface — it has no equivalent
    because its store is one SQLite file.
    """
    spark = _spark(args.cores)
    for store in _job_stores(args.job_root):
        if store.latest_manifest() is None:
            continue
        run_id = store.compact(spark, num_files=args.num_files)
        expired = (
            store.expire_snapshots(keep_latest=args.keep_snapshots)
            if args.expire else []
        )
        print(f"{os.path.basename(store.root)}: compacted -> {run_id}"
              + (f", expired {len(expired)} run dirs" if args.expire else ""))
    return 0


def cmd_schedule(args) -> int:
    """Next-cycle fetch schedule from two committed crawl snapshots.

    Diffs the current job's extracted table against a previous crawl's
    (url-level fingerprints over the ordered page texts), classifies
    each url (new/changed/unchanged/gone), and emits the per-host
    rate-bounded fetch plan (functions/frontier.py). ``--start`` is an
    explicit ISO timestamp — no wall-clock reads, so the same two
    snapshots always produce the identical schedule (rule D1).
    """
    import datetime

    from pyspark.sql import functions as F

    from ocr_agent_spark.functions.delta import crawl_delta, delta_counts
    from ocr_agent_spark.functions.frontier import politeness_frontier
    from ocr_agent_spark.pipeline import read_extracted

    spark = _spark(args.cores)
    new = read_extracted(spark, args.job_root)
    old = read_extracted(spark, args.previous_root)
    if new is None or old is None:
        which = "job-root" if new is None else "previous-root"
        print(f"schedule: nothing committed under --{which}", file=sys.stderr)
        return 2

    def url_fingerprints(df):
        # page texts concatenated in page order → one url-level
        # fingerprint; failed pages contribute their absence (NULL text
        # rows are dropped), so a page that starts failing reads as a
        # content change — which is what a re-crawl wants.
        ordered = F.transform(
            F.array_sort(F.collect_list(F.struct("page_index", "text"))),
            lambda s: s["text"],
        )
        return (
            df.filter(F.col("text").isNotNull())
            .groupBy("url")
            .agg(F.md5(F.concat_ws("\x1e", ordered)).alias("fingerprint"))
        )

    delta = crawl_delta(url_fingerprints(old), url_fingerprints(new))
    start = datetime.datetime.fromisoformat(args.start)
    sched = politeness_frontier(
        delta, start, per_host_delay_sec=args.delay_sec,
        host_budget=args.host_budget,
    )
    out_dir = os.path.join(args.job_root, "schedule")
    sched.write.mode("overwrite").parquet(out_dir)
    for r in delta_counts(delta).orderBy("status").collect():
        print(f"{r['status']}: {r['n']}")
    n = sched.count()
    hosts = sched.select("host").distinct().count()
    print(f"scheduled {n} fetches across {hosts} hosts -> {out_dir}")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="ocr_agent_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    def common(p):
        p.add_argument("--job-root", required=True)
        p.add_argument("--cores", type=int, default=None)

    p_enq = sub.add_parser("enqueue", help="Register input pages parquet")
    p_enq.add_argument("inputs", nargs="+")
    common(p_enq)

    p_run = sub.add_parser("run", help="Extract pending pages and merge")
    p_run.add_argument("--math-delimiter-style", default=None,
                       choices=list(MATH_DELIMITER_STYLES),
                       help="default: $OCR_AGENT_MATH_DELIMITER_STYLE, "
                            f"else '{DEFAULT_MATH_DELIMITER_STYLE}'")
    common(p_run)

    p_status = sub.add_parser("status", help="Show status counts + ETA")
    common(p_status)

    p_reset = sub.add_parser("reset", help="Delete all committed outputs")
    p_reset.add_argument("--yes", action="store_true")
    common(p_reset)

    p_compact = sub.add_parser(
        "compact", help="Fold committed tables into one run dir each"
    )
    p_compact.add_argument("--num-files", type=int, default=None)
    p_compact.add_argument("--expire", action="store_true",
                           help="also drop snapshots beyond the window")
    p_compact.add_argument("--keep-snapshots", type=int, default=1)
    common(p_compact)

    p_sched = sub.add_parser(
        "schedule",
        help="Diff against a previous crawl and emit the next fetch plan",
    )
    p_sched.add_argument("--previous-root", required=True)
    p_sched.add_argument("--start", required=True,
                         help="crawl-cycle start (ISO timestamp; explicit so "
                              "the schedule is deterministic)")
    p_sched.add_argument("--delay-sec", type=int, default=1)
    p_sched.add_argument("--host-budget", type=int, default=None)
    common(p_sched)

    args = parser.parse_args(argv)
    return {
        "enqueue": cmd_enqueue,
        "run": cmd_run,
        "status": cmd_status,
        "reset": cmd_reset,
        "compact": cmd_compact,
        "schedule": cmd_schedule,
    }[args.command](args)


if __name__ == "__main__":
    raise SystemExit(main())
