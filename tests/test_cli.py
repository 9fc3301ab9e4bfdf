"""CLI parity: enqueue → run → status → resume → reset lifecycle.

Drives ocr_agent_spark.cli.main in-process (same SparkSession via
getOrCreate) following the reference's command surface (cli.py:37-120).
"""

import os

from ocr_agent_spark.cli import EXIT_CODE_NOTHING_ENQUEUED, main
from ocr_agent_spark.fixtures import write_pages_parquet


def test_cli_lifecycle(spark, tmp_path, capsys):
    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, 30)
    job_root = str(tmp_path / "job")

    assert main(["enqueue", pages, "--job-root", job_root]) == 0
    assert "enqueued 30 pages" in capsys.readouterr().out

    assert main(["run", "--job-root", job_root]) == 0
    out = capsys.readouterr().out
    assert "processed=30 skipped=0" in out
    assert os.path.exists(os.path.join(job_root, "output.md"))

    assert main(["status", "--job-root", job_root]) == 0
    out = capsys.readouterr().out
    assert "completed:" in out and "progress: 100.00%" in out
    run_lines = [ln for ln in out.splitlines() if ln.startswith("run ")]
    assert len(run_lines) == 1, out

    # resume: second run processes nothing
    assert main(["run", "--job-root", job_root]) == 0
    assert "processed=0 skipped=30" in capsys.readouterr().out

    # compact folds the table (and the run's lineage, which lives in its
    # run dir) into one run dir; status + resume semantics unchanged
    # afterwards, and the lineage keeps the original run_id
    assert main(["compact", "--job-root", job_root, "--expire",
                 "--num-files", "1"]) == 0
    out = capsys.readouterr().out
    assert "extracted: compacted ->" in out and "lineage:" not in out
    assert len(os.listdir(os.path.join(job_root, "extracted", "data"))) == 1
    assert not os.path.exists(os.path.join(job_root, "lineage"))
    assert main(["run", "--job-root", job_root]) == 0
    assert "processed=0 skipped=30" in capsys.readouterr().out
    assert main(["status", "--job-root", job_root]) == 0
    out = capsys.readouterr().out
    assert "progress: 100.00%" in out
    assert run_lines[0] in out.splitlines()  # same run_id, same figures

    # reset requires confirmation, then empties the store
    assert main(["reset", "--job-root", job_root]) == 1
    assert main(["reset", "--job-root", job_root, "--yes"]) == 0
    capsys.readouterr()
    assert main(["status", "--job-root", job_root]) == 0
    assert "empty" in capsys.readouterr().out


def test_cli_env_var_configures_math_style_and_manifest_records_it(
    spark, tmp_path, capsys, monkeypatch
):
    """Env-config parity (reference config.py:115-122): the docker /
    spark-submit pattern sets OCR_AGENT_MATH_DELIMITER_STYLE instead of
    a CLI flag; the effective style lands in the snapshot manifest so a
    resume can see what config produced the committed output."""
    from ocr_agent_spark.cli import effective_math_delimiter_style
    from ocr_agent_spark.pipeline import extraction_store

    # resolution order: flag > env (normalized) > default; unknown → default
    monkeypatch.setenv("OCR_AGENT_MATH_DELIMITER_STYLE", "  LaTeX ")
    assert effective_math_delimiter_style(None) == "latex"
    assert effective_math_delimiter_style("dollar") == "dollar"
    monkeypatch.setenv("OCR_AGENT_MATH_DELIMITER_STYLE", "bogus")
    assert effective_math_delimiter_style(None) == "dollar"
    monkeypatch.delenv("OCR_AGENT_MATH_DELIMITER_STYLE")
    assert effective_math_delimiter_style(None) == "dollar"

    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, 8)
    job_root = str(tmp_path / "jobenv")
    monkeypatch.setenv("OCR_AGENT_MATH_DELIMITER_STYLE", "latex")
    assert main(["enqueue", pages, "--job-root", job_root]) == 0
    assert main(["run", "--job-root", job_root]) == 0
    capsys.readouterr()
    manifest = extraction_store(job_root).latest_manifest()
    assert manifest["settings"] == {"math_delimiter_style": "latex"}

    # sticky per-job settings (reference main.rs:68-106): a later commit
    # that doesn't restate them inherits the record, and maintenance
    # (compaction) doesn't drop it either
    from ocr_agent_spark.sources.snapshot import SnapshotStore

    toy = SnapshotStore(str(tmp_path / "toy_store"))
    toy.commit(spark.range(3), run_id="first",
               settings={"math_delimiter_style": "latex"})
    toy.commit(spark.range(2), run_id="second")
    assert toy.latest_manifest()["settings"] == {"math_delimiter_style": "latex"}
    toy.compact(spark, num_files=1)
    assert toy.latest_manifest()["settings"] == {"math_delimiter_style": "latex"}


def test_cli_enqueue_twice_manifest_is_union(spark, tmp_path, capsys):
    """A second enqueue adds its inputs to the manifest (rewritten via
    temp + rename, so no temp file is left) instead of replacing it."""
    import json

    def enqueued(job_root):
        with open(os.path.join(job_root, "inputs.json")) as fh:
            return json.load(fh)["paths"]

    a, b = str(tmp_path / "pages_a"), str(tmp_path / "pages_b")
    write_pages_parquet(a, 5)
    write_pages_parquet(b, 7)
    job_root, only_b = str(tmp_path / "job"), str(tmp_path / "job_b")

    assert main(["enqueue", a, "--job-root", job_root]) == 0
    first = enqueued(job_root)
    assert main(["enqueue", b, "--job-root", only_b]) == 0
    assert main(["enqueue", b, a, "--job-root", job_root]) == 0
    capsys.readouterr()
    assert enqueued(job_root) == sorted(set(first) | set(enqueued(only_b)))
    assert [f for f in os.listdir(job_root) if ".tmp-" in f] == []


def test_cli_empty_input_exit_code(spark, tmp_path):
    missing = str(tmp_path / "nope")
    job_root = str(tmp_path / "job2")
    assert (
        main(["enqueue", missing, "--job-root", job_root])
        == EXIT_CODE_NOTHING_ENQUEUED
    )
    assert main(["run", "--job-root", job_root]) == EXIT_CODE_NOTHING_ENQUEUED


def test_cli_warc_lifecycle(spark, tmp_path, capsys):
    """Crawl archives enqueue like any input: a .warc.gz + a parquet
    bundle in ONE job extract into one table, resume together, and an
    unrelated .gz is still refused."""
    from ocr_agent_spark.fixtures import generate_pages
    from ocr_agent_spark.sources.warc import write_pages_warc

    recs = generate_pages(24)
    half = len(recs) // 2
    pq = str(tmp_path / "pages")
    write_pages_parquet(pq, half)  # doc ids 0..11 (same generator seed)
    warc = str(tmp_path / "crawl-00.warc.gz")
    write_pages_warc(
        [(p.url, p.warc_ts, p.html) for p in recs[half:]
         if p.html[:5] != b"%PDF-"],
        warc,
    )
    n_warc = sum(1 for p in recs[half:] if p.html[:5] != b"%PDF-")
    bogus = str(tmp_path / "notes.gz")
    with open(bogus, "wb") as fh:
        fh.write(b"\x1f\x8b not a warc")
    job_root = str(tmp_path / "job")

    assert main(["enqueue", pq, warc, bogus, "--job-root", job_root]) == 0
    err = capsys.readouterr().err
    assert "Unsupported input file(s)" in err and "notes.gz" in err
    assert ".warc.gz" in err  # supported-types hint names the archives

    assert main(["run", "--job-root", job_root]) == 0
    out = capsys.readouterr().out
    # parquet half expands PDFs into pages; the WARC half adds html docs
    assert "skipped=0" in out
    assert main(["status", "--job-root", job_root]) == 0
    assert "progress: 100.00%" in capsys.readouterr().out

    # resume: everything from both containers is committed
    assert main(["run", "--job-root", job_root]) == 0
    assert "processed=0" in capsys.readouterr().out
    assert n_warc > 0


def test_cli_schedule_between_crawls(spark, tmp_path, capsys):
    """Two crawl generations → re-crawl delta → rate-bounded fetch
    schedule parquet (the crawl-cycle closing loop via the CLI)."""
    pages_a = str(tmp_path / "pages_a")
    pages_b = str(tmp_path / "pages_b")
    write_pages_parquet(pages_a, 24)
    # second crawl = first 18 docs only (6 "gone"), same content
    import pyarrow.parquet as pq
    import pyarrow as pa
    t = pq.read_table(pages_a)
    pq.write_table(t.slice(0, 18), os.path.join(tmp_path, "b.parquet"))
    os.makedirs(pages_b, exist_ok=True)
    os.replace(os.path.join(tmp_path, "b.parquet"),
               os.path.join(pages_b, "part-0.parquet"))

    root_a = str(tmp_path / "job_a")
    root_b = str(tmp_path / "job_b")
    for pages, root in ((pages_a, root_a), (pages_b, root_b)):
        assert main(["enqueue", pages, "--job-root", root]) == 0
        assert main(["run", "--job-root", root]) == 0
        capsys.readouterr()

    assert main(["schedule", "--job-root", root_b,
                 "--previous-root", root_a,
                 "--start", "2026-06-01T00:00:00",
                 "--delay-sec", "3", "--host-budget", "50"]) == 0
    out = capsys.readouterr().out
    assert "gone: 6" in out
    assert "unchanged: 18" in out
    assert "scheduled 18 fetches" in out

    sched = spark.read.parquet(os.path.join(root_b, "schedule"))
    rows = sched.collect()
    assert len(rows) == 18
    assert {r["status"] for r in rows} == {"unchanged"}
    import datetime
    for r in rows:
        assert r["next_fetch_ts"] == datetime.datetime(2026, 6, 1) + \
            datetime.timedelta(seconds=3 * (r["fetch_rank"] - 1))

    # missing previous snapshot → typed exit, no traceback
    assert main(["schedule", "--job-root", root_b,
                 "--previous-root", str(tmp_path / "nope"),
                 "--start", "2026-06-01T00:00:00"]) == 2
    assert "nothing committed" in capsys.readouterr().err


def test_cli_warc_error_report_bounded(spark, tmp_path, capsys):
    """With more corrupt archives than the report cap, enqueue prints a
    bounded head plus a 'and N more' total — never one warning per
    archive (advice r5: the collect is bounded by the cap, not by
    archive count)."""
    from ocr_agent_spark.sources.warc import write_pages_warc

    n_bad = 25  # > max_err_report (20)
    good = str(tmp_path / "ok.warc.gz")
    import datetime as dt
    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    write_pages_warc([("https://ok.org/1", ts,
                       b"<html><body><p>hello world</p></body></html>")], good)
    paths = [good]
    for i in range(n_bad):
        bad = str(tmp_path / f"bad-{i:02d}.warc.gz")
        with open(bad, "wb") as fh:
            fh.write(b"\x1f\x8b\x08\x00" + b"garbage" * 8)
        paths.append(bad)
    job_root = str(tmp_path / "job")
    assert main(["enqueue", *paths, "--job-root", job_root]) == 0
    err = capsys.readouterr().err
    n_warn = err.count("pages before:")
    assert n_warn == 20  # bounded head
    assert f"and {n_bad - 20} more" in err and f"({n_bad} total)" in err


def test_load_pages_gives_every_frame_routing_meta(spark, tmp_path):
    """A raw parquet bundle (no doc_bytes/is_pdf) mixed with a WARC gets
    the routing metadata too: none of it is NULL after the union, so the
    giant-PDF router sees the parquet's PDFs as PDFs."""
    from ocr_agent_spark.cli import _load_pages
    from ocr_agent_spark.fixtures import generate_pages
    from ocr_agent_spark.sources.warc import write_pages_warc

    pq = str(tmp_path / "pages")
    write_pages_parquet(pq, 30, with_meta=False)
    warc = str(tmp_path / "crawl-00.warc.gz")
    n_warc = write_pages_warc(
        [(p.url, p.warc_ts, p.html) for p in generate_pages(40)[30:]
         if p.html[:5] != b"%PDF-"],
        warc,
    )

    rows = _load_pages(spark, [pq, warc]).select("html", "doc_bytes", "is_pdf").collect()
    assert len(rows) == 30 + n_warc
    assert all(r["doc_bytes"] is not None and r["is_pdf"] is not None for r in rows)
    pdfs = [r for r in rows if bytes(r["html"])[:4] == b"%PDF"]
    assert pdfs and all(r["is_pdf"] for r in pdfs)
    assert all(r["doc_bytes"] == len(r["html"]) for r in rows)
