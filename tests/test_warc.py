"""WARC source tests: kernel round-trips, charset edge, Spark reader,
and WARC-vs-parquet extraction equivalence."""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os

import pytest

from ocr_agent_spark.kernel.warcfile import (
    WarcFormatError,
    build_warc,
    decode_to_utf8,
    iter_warc_pages,
    iter_warc_records,
    sniff_charset,
    write_warc_record,
)

TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _pages(n: int):
    return [
        (f"https://example.com/p/{i}",
         TS + dt.timedelta(seconds=i),
         f"<html><title>t{i}</title><body><p>{'word ' * 40}{i}</p></body></html>".encode())
        for i in range(n)
    ]


# -- kernel ----------------------------------------------------------------


@pytest.mark.parametrize("compress", [True, False])
@pytest.mark.parametrize("chunked_every", [0, 3])
def test_warc_roundtrip_shapes(compress, chunked_every):
    pages = _pages(40)
    data = build_warc(pages, compress=compress, chunked_every=chunked_every)
    got = list(iter_warc_pages(io.BytesIO(data)))
    assert [(g[0], g[1]) for g in got] == [(p[0], p[1]) for p in pages]
    assert all(g[2] == p[2] for g, p in zip(got, pages))  # byte-identical


def test_warc_whole_file_gzip():
    """Some mirrors re-gzip the whole archive as ONE member — must
    stream identically to the per-record-member layout."""
    pages = _pages(25)
    whole = gzip.compress(build_warc(pages, compress=False))
    assert [g[0] for g in iter_warc_pages(io.BytesIO(whole))] == [p[0] for p in pages]


def test_warc_skips_non_response_records():
    """request/metadata records interleaved with responses are skipped
    (a real crawl stores all three per fetch), and so is a redirect
    response with an empty body."""
    resp = build_warc(_pages(3), compress=False)
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://example.com/p/0\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Length: 4\r\n\r\nGET \r\n\r\n"
    )
    redirect = io.BytesIO()
    write_warc_record(redirect, "https://example.com/old", TS, b"",
                      compress=False, status=301,
                      location="https://example.com/p/0")
    got = list(iter_warc_pages(io.BytesIO(req + resp + redirect.getvalue() + req)))
    assert len(got) == 3


def test_warc_charset_normalization():
    cyr = "<html><meta charset=windows-1251><p>Привет мир</p></html>"
    lat = "<html><p>café résumé</p></html>"
    archive = build_warc([
        ("https://ru.example.com/", TS, cyr.encode("windows-1251"), "text/html"),
        ("https://fr.example.com/", TS, lat.encode("latin-1"),
         "text/html; charset=ISO-8859-1"),
        ("https://bom.example.com/", TS,
         b"\xff\xfe" + "<p>bom</p>".encode("utf-16-le"), "text/html"),
    ])
    got = {u: h for u, _, h in iter_warc_pages(io.BytesIO(archive))}
    assert "Привет мир" in got["https://ru.example.com/"].decode("utf-8")
    assert "café résumé" in got["https://fr.example.com/"].decode("utf-8")
    assert "<p>bom</p>" in got["https://bom.example.com/"].decode("utf-8")


def test_sniff_charset_precedence():
    assert sniff_charset(b"\xef\xbb\xbfhello") == "utf-8-sig"
    assert sniff_charset(b"<meta charset='koi8-r'>") == "koi8-r"
    # HTTP header beats meta
    assert sniff_charset(b"<meta charset='koi8-r'>",
                         "text/html; charset=windows-1251") == "windows-1251"
    # bogus names fall through
    assert sniff_charset(b"<meta charset=not-a-charset>") == "utf-8"
    assert sniff_charset(b"plain") == "utf-8"
    # invalid utf-8 under the fallback is replaced, not raised
    assert b"\xef\xbf\xbd" in decode_to_utf8(b"<p>\xff\xfa</p>")


def test_decode_strips_utf16_utf32_boms():
    """The utf-16/32 codecs decode their BOM to a leading U+FEFF (only
    utf-8-sig strips it) — decode_to_utf8 must not leak EF BB BF into
    the normalized html (ADVICE r4)."""
    for enc, bom in (("utf-16-le", b"\xff\xfe"), ("utf-16-be", b"\xfe\xff"),
                     ("utf-32-le", b"\xff\xfe\x00\x00"),
                     ("utf-32-be", b"\x00\x00\xfe\xff")):
        raw = bom + "<html>hi</html>".encode(enc)
        out = decode_to_utf8(raw)
        assert out == b"<html>hi</html>", (enc, out[:8])
    # utf-8 BOM path unchanged
    assert decode_to_utf8(b"\xef\xbb\xbf<p>x</p>") == b"<p>x</p>"


def test_binary_transform_charset_names_fall_through():
    """codecs.lookup resolves binary transforms (hex, base64, zlib…)
    whose .decode raises LookupError('not a text encoding') — a page
    declaring such a charset must decode via the utf-8 fallback, not
    kill the archive task (code-review r5)."""
    for name in ("hex", "base64", "zlib", "uu", "quopri"):
        page = f"<meta charset={name}><p>hello page</p>".encode()
        assert sniff_charset(page) == "utf-8", name
        assert b"hello page" in decode_to_utf8(page), name
        assert b"hello page" in decode_to_utf8(
            b"<p>hello page</p>", f"text/html; charset={name}"
        ), name
    # rot13 IS a text transform codec in CPython — it decodes without
    # raising, so whichever way the gate treats it must still succeed
    decode_to_utf8(b"<meta charset=rot13><p>uryyb</p>")


def test_warc_corrupt_framing_raises_typed():
    with pytest.raises(WarcFormatError):
        list(iter_warc_records(io.BytesIO(b"NOT A WARC\r\n\r\n")))
    # truncated body: EOF inside record
    good = build_warc(_pages(1), compress=False)
    with pytest.raises(WarcFormatError):
        list(iter_warc_records(io.BytesIO(good[: len(good) - 40])))


# -- Spark source ----------------------------------------------------------


def _write_archives(tmpdir: str, pages, shards: int = 3) -> list[str]:
    from ocr_agent_spark.sources.warc import write_pages_warc

    paths = []
    for s in range(shards):
        p = os.path.join(tmpdir, f"crawl-{s:02d}.warc.gz")
        write_pages_warc(
            [(u, t, b) for i, (u, t, b) in enumerate(pages) if i % shards == s], p
        )
        paths.append(p)
    return paths


def test_read_warc_matches_source_rows(spark, tmp_path):
    from ocr_agent_spark.sources.warc import read_warc

    pages = _pages(60)
    paths = _write_archives(str(tmp_path), pages)
    df = read_warc(spark, paths)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    got = {r["url"]: r for r in df.collect()}
    assert len(got) == 60
    for u, ts, body in pages:
        assert bytes(got[u]["html"]) == body
        assert got[u]["warc_ts"] == ts.replace(tzinfo=None)
        assert got[u]["text"] is None and got[u]["lang"] is None


def test_warc_ingest_extraction_equals_parquet_ingest(spark, tmp_path):
    """End-to-end equivalence: the SAME corpus via WARC archives and
    via the parquet fixture path must extract byte-identical text per
    url — the ingest container must not affect results."""
    from ocr_agent_spark.fixtures import generate_pages
    from ocr_agent_spark.operators.extract import extract_pages_fused
    from ocr_agent_spark.sources.warc import read_warc

    recs = [p for p in generate_pages(80) if not bytes(p.html[:5]) == b"%PDF-"]
    paths = _write_archives(
        str(tmp_path), [(p.url, p.warc_ts, p.html) for p in recs]
    )
    via_warc = read_warc(spark, paths)
    direct = spark.createDataFrame(
        [(p.url, p.warc_ts, p.html, None, None) for p in recs],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    a = {(r["url"], r["page_index"]): r["text"]
         for r in extract_pages_fused(via_warc).collect()}
    b = {(r["url"], r["page_index"]): r["text"]
         for r in extract_pages_fused(direct).collect()}
    assert a == b
    assert len(a) == len(recs)


def test_read_warc_errors_triage(spark, tmp_path):
    from ocr_agent_spark.sources.warc import read_warc, read_warc_errors

    pages = _pages(10)
    good = _write_archives(str(tmp_path), pages, shards=1)[0]
    bad = os.path.join(str(tmp_path), "corrupt.warc.gz")
    with open(bad, "wb") as fh:
        fh.write(gzip.compress(b"NOT A WARC AT ALL\r\n\r\n"))
    tri = {r["path"]: r for r in
           read_warc_errors(spark, [good, bad]).collect()}
    assert tri[good]["error"] is None
    assert tri[good]["pages_emitted"] == 10
    assert tri[bad]["error"] is not None
    # and the pages read itself survives the corrupt file
    assert read_warc(spark, [good, bad]).count() == 10


def test_read_warc_missing_file_fails_loudly(spark, tmp_path):
    """An archive that disappeared between enqueue and run is an
    infrastructure error: the task must FAIL, not silently contribute
    zero pages while the job reports success (ADVICE r4). Corrupt
    content after a successful open stays non-fatal (previous test)."""
    from ocr_agent_spark.sources.warc import read_warc

    pages = _pages(3)
    good = _write_archives(str(tmp_path), pages, shards=1)[0]
    gone = os.path.join(str(tmp_path), "vanished.warc.gz")
    with pytest.raises(Exception) as ei:
        read_warc(spark, [good, gone]).count()
    assert "vanished.warc.gz" in str(ei.value)


# -- streaming WARC inbox ---------------------------------------------------


def test_streaming_warc_inbox_drain_resume_merge(spark, tmp_path):
    """Crawler-inbox lifecycle: manifest drop → drain commits extracted
    pages + lineage; re-drain is a no-op (exactly-once on manifest
    offsets); a new manifest drains incrementally; merge runs over the
    streamed table."""
    from ocr_agent_spark.fixtures import generate_pages
    from ocr_agent_spark.pipeline import merge_job, read_extracted, read_lineage
    from ocr_agent_spark.streaming.warc import run_streaming_warc_extraction

    recs = [p for p in generate_pages(40) if not bytes(p.html[:5]) == b"%PDF-"]
    half = len(recs) // 2
    inbox = tmp_path / "inbox"
    manifests = tmp_path / "manifests"
    inbox.mkdir()
    manifests.mkdir()
    root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = _write_archives(
        str(inbox), [(p.url, p.warc_ts, p.html) for p in recs[:half]], shards=2
    )
    (manifests / "m0.txt").write_text("\n".join(first) + "\n")

    runs = run_streaming_warc_extraction(spark, str(manifests), root, ckpt)
    assert len(runs) == 1
    ext = read_extracted(spark, root)
    assert ext.count() == half
    # re-drain: nothing new
    assert run_streaming_warc_extraction(spark, str(manifests), root, ckpt) == []
    assert read_extracted(spark, root).count() == half

    second = _write_archives(
        str(inbox / ".."), [(p.url, p.warc_ts, p.html) for p in recs[half:]],
        shards=1,
    )
    (manifests / "m1.txt").write_text("\n".join(second) + "\n")
    runs2 = run_streaming_warc_extraction(spark, str(manifests), root, ckpt)
    assert len(runs2) == 1
    ext2 = read_extracted(spark, root)
    assert ext2.count() == len(recs)
    assert {r["url"] for r in ext2.select("url").collect()} == {p.url for p in recs}
    # lineage rows exist for both streamed runs
    lin = read_lineage(spark, root)
    assert {r["run_id"] for r in lin.select("run_id").collect()} == set(runs + runs2)
    # the streamed table merges like any batch run
    assert len(merge_job(spark, root)) > 0


def test_warc_corrupt_gzip_raises_typed():
    """zlib errors from damaged archives must not leak — they become
    WarcFormatError (and hence triage rows in read_warc_errors)."""
    for blob in (
        b"\x1f\x8b" + b"\x00" * 40,                   # bogus member header
        b"\x1f\x8b\x08\x00" + b"garbage" * 8,         # corrupt deflate
        gzip.compress(b"junk") + b"\x1f\x8b\xff\xff",  # bad second member
    ):
        with pytest.raises(WarcFormatError):
            list(iter_warc_pages(io.BytesIO(blob)))


def test_warc_content_length_bounds():
    """Negative Content-Length must not swallow the next record into
    this body (verified failure, code-review r4); absurd lengths must
    not buffer the whole archive chasing them."""
    def record(cl: str) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://x.com/\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            + f"Content-Length: {cl}\r\n\r\n".encode()
        )

    good = build_warc(_pages(1), compress=False)
    with pytest.raises(WarcFormatError, match="negative"):
        list(iter_warc_records(io.BytesIO(record("-5") + good)))
    with pytest.raises(WarcFormatError, match="bound"):
        list(iter_warc_records(io.BytesIO(record("999999999999") + good)))


# -- sitemaps ---------------------------------------------------------------


def test_sitemap_kernel_roundtrip_and_real_shapes():
    import datetime as dtm

    from ocr_agent_spark.kernel.sitemap import (
        SitemapFormatError,
        build_sitemap,
        parse_sitemap,
    )

    ts = dtm.datetime(2026, 2, 1, 12, 30, tzinfo=dtm.timezone.utc)
    entries = [
        ("https://e.com/a", ts, "daily", 0.8),
        ("https://e.com/b", None, None, None),
    ]
    for compress in (False, True):
        doc = parse_sitemap(build_sitemap(entries, compress=compress))
        assert doc["kind"] == "urlset"
        assert [e["url"] for e in doc["entries"]] == ["https://e.com/a", "https://e.com/b"]
        assert doc["entries"][0]["lastmod"] == ts
        assert doc["entries"][0]["priority"] == 0.8
    idx = parse_sitemap(build_sitemap([], index_of=["https://e.com/s1.xml"]))
    assert idx["kind"] == "index" and idx["children"] == ["https://e.com/s1.xml"]
    # namespace-free real-world sloppiness + date-only lastmod
    sloppy = b"<urlset><url><loc>https://e.com/x</loc><lastmod>2026-02-01</lastmod></url></urlset>"
    doc = parse_sitemap(sloppy)
    assert doc["entries"][0]["lastmod"].year == 2026
    import pytest as _pytest
    with _pytest.raises(SitemapFormatError):
        parse_sitemap(b"<html>not a sitemap</html>")
    with _pytest.raises(SitemapFormatError):
        parse_sitemap(b"definitely not xml <<<")


def test_read_sitemaps_spark(spark):
    import datetime as dtm

    from ocr_agent_spark.kernel.sitemap import build_sitemap
    from ocr_agent_spark.sources.warc import read_sitemaps, sitemap_children

    ts = dtm.datetime(2026, 3, 1, tzinfo=dtm.timezone.utc)
    sm1 = build_sitemap([(f"https://a.com/{i}", ts, None, None) for i in range(5)])
    sm2 = build_sitemap([(f"https://b.com/{i}", None, "weekly", 0.5)
                         for i in range(3)], compress=True)
    idx = build_sitemap([], index_of=["https://a.com/sm1.xml", "https://b.com/sm2.xml"])
    df = spark.createDataFrame(
        [("https://a.com/sm1.xml", sm1), ("https://b.com/sm2.xml", sm2),
         ("https://a.com/idx.xml", idx), ("https://bad.com/x.xml", b"not xml")],
        "sitemap_url string, payload binary",
    )
    urls = read_sitemaps(df)
    got = urls.collect()
    assert len(got) == 8  # index + malformed contribute no page urls
    assert {r["sitemap_url"] for r in got} == {
        "https://a.com/sm1.xml", "https://b.com/sm2.xml"
    }
    kids = sitemap_children(df).collect()
    assert sorted(r["child_url"] for r in kids) == [
        "https://a.com/sm1.xml", "https://b.com/sm2.xml"
    ]


def test_sitemap_damaged_gzip_and_null_payload_are_skipped(spark):
    """Truncated/corrupt .xml.gz and NULL payloads must be skipped
    (typed error / guard), never a task failure (code-review r4c,
    reproduced: EOFError and zlib.error escaped the OSError catch)."""
    import gzip as _gz

    import pytest as _pytest

    from ocr_agent_spark.kernel.sitemap import SitemapFormatError, build_sitemap, parse_sitemap
    from ocr_agent_spark.sources.warc import read_sitemaps

    good = build_sitemap([("https://e.com/ok?a=1&b=2", None, None, None)])
    truncated = _gz.compress(good)[:20]
    corrupt = b"\x1f\x8b\x08\x00" + b"junk" * 8
    for bad in (truncated, corrupt):
        with _pytest.raises(SitemapFormatError):
            parse_sitemap(bad)
    df = spark.createDataFrame(
        [("https://e.com/s.xml", good),
         ("https://e.com/t.xml.gz", truncated),
         ("https://e.com/c.xml.gz", corrupt),
         ("https://e.com/missing.xml", None)],
        "sitemap_url string, payload binary",
    )
    got = read_sitemaps(df).collect()
    # the escaped ampersand url round-trips; damaged rows vanish
    assert [r["url"] for r in got] == ["https://e.com/ok?a=1&b=2"]
