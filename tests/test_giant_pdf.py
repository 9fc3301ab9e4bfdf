"""Giant-PDF fan-out: both paths handle a 300-page payload correctly."""

from ocr_agent_spark.kernel.minipdf import build_pdf

# every output column but the per-task lineage ones
DATA_COLUMNS = ["kind", "url", "page_index", "total_pages", "created_ts", "text",
                "status", "error", "doc_bytes"]


def test_300_page_pdf_both_paths(spark):
    """The fused kernel and the sharded giant-PDF branch of
    ``extract_pages_auto`` emit the same rows for a 300-page PDF."""
    pages = [[f"PAGE_{p}_MARK", f"line two of page {p}"] for p in range(300)]
    payload = build_pdf(pages)
    df = spark.createDataFrame(
        [("https://big.example/doc", None, payload, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )

    from ocr_agent_spark.operators.extract import (
        extract_pages_auto,
        extract_pages_fused,
    )

    fused = extract_pages_fused(df).collect()
    assert len(fused) == 300
    assert all(r["status"] == "completed" for r in fused)
    assert sorted(r["page_index"] for r in fused) == list(range(300))
    by_page = {r["page_index"]: r["text"] for r in fused}
    assert "PAGE_0_MARK" in by_page[0] and "PAGE_299_MARK" in by_page[299]

    sharded = extract_pages_auto(df, giant_bytes=len(payload) // 2).collect()
    assert sorted(tuple(r[c] for c in DATA_COLUMNS) for r in sharded) == sorted(
        tuple(r[c] for c in DATA_COLUMNS) for r in fused
    )


def test_sharded_fused_batches(monkeypatch):
    """Spark-free: batches carrying (shard, shards) split one document's
    pages between shards, each shard parsing the document once."""
    import pandas as pd

    from ocr_agent_spark.kernel import minipdf
    from ocr_agent_spark.operators.extract import _extract_pages_fused_batches

    built = []

    class CountingPdfDocument(minipdf.PdfDocument):
        def __init__(self, data):
            built.append(len(data))
            super().__init__(data)

    monkeypatch.setattr(minipdf, "PdfDocument", CountingPdfDocument)

    class Counter:
        def __init__(self):
            self.updates = []

        def add(self, value):
            self.updates.append(value)

    def run(payload, shard=None, shards=3, counter=None):
        batch = pd.DataFrame({"url": ["https://big.example/doc"],
                              "warc_ts": [None], "html": [payload]})
        if shard is not None:
            batch["shard"] = shard
            batch["shards"] = shards
        outs = list(_extract_pages_fused_batches(iter([batch]), counter=counter))
        if not outs:
            return pd.DataFrame(columns=DATA_COLUMNS)
        out = pd.concat(outs, ignore_index=True)[DATA_COLUMNS]
        return out.sort_values("page_index", ignore_index=True)

    payload = build_pdf([[f"PAGE_{p}_MARK"] for p in range(10)])
    whole = run(payload)
    assert len(whole) == 10
    built.clear()
    parts = [run(payload, shard) for shard in range(3)]
    assert built == [len(payload)] * 3  # one parse per shard, not per page
    assert [list(p["page_index"]) for p in parts] == [
        [0, 3, 6, 9], [1, 4, 7], [2, 5, 8]]
    union = pd.concat(parts).sort_values("page_index", ignore_index=True)
    pd.testing.assert_frame_equal(union, whole)

    garbage = pd.concat([run(b"%PDF-garbage", shard) for shard in range(3)])
    assert len(garbage) == 1
    assert garbage["status"].iloc[0] == "failed"
    # a row that is no PDF at all (inconsistent is_pdf metadata) still
    # comes out once
    html = pd.concat([run(b"<p>not a pdf</p>", shard) for shard in range(3)])
    assert list(html["kind"]) == ["html"]

    counter = Counter()
    two_pages = build_pdf([["page one"], ["page two"]])
    assert run(two_pages, shard=2, counter=counter).empty
    assert counter.updates == []
    assert len(run(two_pages, shard=1, counter=counter)) == 1
    assert len(counter.updates) == 1


def test_auto_routing_diverts_giant_pdf(spark):
    """extract_pages_auto shards a giant PDF over the cores (its pages
    spread across one task per core — skew balance, not just equality)
    while small payloads keep the fused plan."""
    from ocr_agent_spark.operators.extract import (
        extract_pages_auto,
        extract_pages_fused,
    )

    giant_pages = [[f"PAGE_{p}_MARK"] for p in range(300)]
    giant = build_pdf(giant_pages)
    small_pdf = build_pdf([["small page one"], ["small page two"]])
    html = b"<html><body><main><p>hello world</p></main></body></html>"
    df = spark.createDataFrame(
        [
            ("https://big.example/doc", None, giant, None, "en"),
            ("https://small.example/pdf", None, small_pdf, None, "en"),
            ("https://small.example/html", None, html, None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )

    routed = extract_pages_auto(df, giant_bytes=len(giant) // 2)
    rows = routed.collect()
    fused_rows = extract_pages_fused(df).collect()
    key = lambda rs: {(r["url"], r["page_index"], r["text"], r["status"]) for r in rs}
    assert key(rows) == key(fused_rows)  # identical output either way
    assert routed.columns == extract_pages_fused(df).columns  # same schema

    # skew balance: the giant PDF's 300 pages spread over every core,
    # one shard per task
    cores = spark.sparkContext.defaultParallelism
    giant_parts = {
        r["partition_id"] for r in rows if r["url"] == "https://big.example/doc"
    }
    assert len(giant_parts) == cores, giant_parts
    # the small payloads kept the fused plan (not sharded)
    small_rows = [r for r in rows if r["url"] != "https://big.example/doc"]
    assert len(small_rows) == 3
    assert all(r["partition_id"] not in giant_parts for r in small_rows)

    # no giants -> plan IS the fused plan (zero shuffles)
    from plan_inspect import count_exchanges

    small_only = df.filter(~df.url.contains("big"))
    auto_plan = extract_pages_auto(small_only, giant_bytes=10**9)
    assert count_exchanges(auto_plan) == 0


def test_fused_batches_split_mid_document(spark):
    """A low-byte/high-page PDF (routing keys on bytes, memory cost is
    pages) must not balloon one output batch to its full fan-out: the
    fused kernel flushes every FUSED_OUT_BATCH_ROWS rows, mid-document
    (VERDICT r2 'what's wrong' #4)."""
    import pandas as pd

    from ocr_agent_spark.operators.extract import (
        FUSED_OUT_BATCH_ROWS,
        _extract_pages_fused_batches,
        extract_pages_fused,
    )

    n_pages = FUSED_OUT_BATCH_ROWS * 2 + 137  # forces ≥3 flushes in-doc
    payload = build_pdf([[f"PAGE_{p}_MARK"] for p in range(n_pages)])
    batch = pd.DataFrame(
        {"url": ["https://dense.example/doc"], "warc_ts": [None],
         "html": [payload]}
    )
    outs = list(_extract_pages_fused_batches(iter([batch])))
    assert len(outs) >= 3, [len(o) for o in outs]
    assert all(len(o) <= FUSED_OUT_BATCH_ROWS for o in outs)
    assert sum(len(o) for o in outs) == n_pages
    # wall clock is a running max across flushes (lineage contract)
    walls = [int(o["part_wall_ms"].iloc[0]) for o in outs]
    assert walls == sorted(walls)
    # page order preserved across the flush boundaries end-to-end
    joined = pd.concat(outs, ignore_index=True)
    assert list(joined["page_index"]) == list(range(n_pages))
    assert (joined["status"] == "completed").all()

    # and through Spark: same rows, no dup/loss at batch boundaries
    df = spark.createDataFrame(
        [("https://dense.example/doc", None, payload, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = extract_pages_fused(df).groupBy("status").count().collect()
    assert {(r["status"], r["count"]) for r in got} == {("completed", n_pages)}


def test_null_payload_becomes_failure_row_on_both_routes(spark):
    """code-review r02: a NULL html payload must surface as a
    status='failed' row (D2), not vanish when a giant PDF makes the
    router split the corpus, and not crash the fused kernel."""
    from ocr_agent_spark.operators.extract import extract_pages_auto

    giant = build_pdf([[f"P{p}"] for p in range(50)])
    rows = [
        ("https://x/null", None, None, None, "en"),
        ("https://x/ok", None,
         b"<p>healthy words one two three four five six seven eight nine ten</p>",
         None, "en"),
        ("https://x/giant", None, giant, None, "en"),
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    df = spark.createDataFrame(rows, schema)

    # with a giant present (split plan) and without (pure fused plan)
    for giant_bytes in (len(giant) // 2, 10**9):
        out = extract_pages_auto(df, giant_bytes=giant_bytes).collect()
        by_url = {}
        for r in out:
            by_url.setdefault(r["url"], []).append(r)
        assert len(by_url["https://x/null"]) == 1
        nr = by_url["https://x/null"][0]
        assert nr["status"] == "failed" and "null html payload" in nr["error"]
        assert by_url["https://x/ok"][0]["status"] == "completed"
        assert len(by_url["https://x/giant"]) == 50
