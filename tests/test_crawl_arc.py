"""End-to-end crawl arc: every crawl-side module composed in one story.

robots.txt discovery → sitemap frontier → politeness gate → WARC
archive "fetch" → fused extraction →
snapshot commit → web-graph edges → re-crawl delta. Each module has
its own suite; this test pins the SEAMS — schemas, url forms, and
error contracts agreeing across the whole pipeline.
"""

from __future__ import annotations

import datetime as dt

TS = dt.datetime(2026, 5, 1, tzinfo=dt.timezone.utc)


def _page_html(url: str, gen: int) -> bytes:
    n = int(url.rsplit("/", 1)[-1])
    body = f"changed content v{gen}" if (gen > 1 and n == 1) else "stable content"
    words = " ".join(f"w{(n * 31 + k) % 97}" for k in range(40))
    link = f'<a href="https://h{(n + 1) % 2}.example.com/doc/{(n + 3) % 6}">next</a>'
    return (f"<html><title>doc {n}</title><body><p>{body} {words}</p>"
            f"{link}</body></html>").encode()


def test_full_crawl_arc(spark, tmp_path):
    from ocr_agent_spark.functions.delta import crawl_delta
    from ocr_agent_spark.functions.links import extract_link_edges, host_graph
    from ocr_agent_spark.functions.robots import (
        evaluate_allowed,
        robots_rules_table,
        robots_sitemaps,
    )
    from ocr_agent_spark.functions.text import doc_fingerprint
    from ocr_agent_spark.kernel.sitemap import build_sitemap
    from ocr_agent_spark.operators.extract import extract_pages_fused
    from ocr_agent_spark.sources.snapshot import SnapshotStore
    from ocr_agent_spark.sources.warc import (
        read_sitemaps,
        read_warc,
        write_pages_warc,
    )

    # 1. robots: two hosts; h0 blocks /private/; both advertise sitemaps
    robots = spark.createDataFrame(
        [(f"h{j}.example.com",
          ("User-agent: *\nDisallow: /private/\n" if j == 0 else "User-agent: *\n")
          + f"Sitemap: https://h{j}.example.com/sitemap.xml\n")
         for j in range(2)],
        "host string, robots_txt string",
    )
    discovered = {r["sitemap_url"] for r in robots_sitemaps(robots).collect()}
    assert discovered == {f"https://h{j}.example.com/sitemap.xml" for j in range(2)}

    # 2. sitemap frontier: 6 public pages + 2 private ones on h0
    def sm(j: int) -> bytes:
        urls = [(f"https://h{j}.example.com/doc/{n}", TS, None, None)
                for n in range(j, 6, 2)]
        if j == 0:
            urls += [(f"https://h0.example.com/private/{n}", TS, None, None)
                     for n in (7, 8)]
        return build_sitemap(urls)

    sitemaps = spark.createDataFrame(
        [(u, sm(int(u[9]))) for u in sorted(discovered)],
        "sitemap_url string, payload binary",
    )
    frontier = read_sitemaps(sitemaps)
    assert frontier.count() == 8

    # 3. politeness gate: the /private/ urls are filtered before fetch
    allowed = evaluate_allowed(
        frontier.select("url"), robots_rules_table(robots)
    ).filter("allowed").select("url")
    fetch_list = sorted(r["url"] for r in allowed.collect())
    assert len(fetch_list) == 6
    assert not any("/private/" in u for u in fetch_list)

    # 4. "fetch" into a WARC archive (generation 1)
    arc1 = str(tmp_path / "crawl-1.warc.gz")
    write_pages_warc([(u, TS, _page_html(u, 1)) for u in fetch_list], arc1)

    # 5. extraction + snapshot commit
    seq = read_warc(spark, [arc1])
    extracted = extract_pages_fused(seq)
    store = SnapshotStore(str(tmp_path / "table"))
    store.commit(extracted, run_id="gen1")
    gen1 = store.read(spark)
    assert gen1.filter("status = 'completed'").count() == 6
    assert all("stable content" in r["text"] for r in gen1.collect())

    # 6. web graph from the fetched pages
    hg = {(r["src_host"], r["dst_host"]): r["n_links"]
          for r in host_graph(extract_link_edges(seq)).collect()}
    assert set(hg) == {("h0.example.com", "h1.example.com"),
                       ("h1.example.com", "h0.example.com")}
    assert sum(hg.values()) == 6

    # 7. re-crawl: doc/1 changes, doc/5 disappears, doc/6 appears
    gen2_urls = [u for u in fetch_list if not u.endswith("/5")]
    gen2_urls.append("https://h0.example.com/doc/6")
    arc2 = str(tmp_path / "crawl-2.warc.gz")
    write_pages_warc([(u, TS, _page_html(u, 2)) for u in gen2_urls], arc2)
    old_fp = extract_pages_fused(read_warc(spark, [arc1])).select(
        "url", doc_fingerprint("text").alias("fingerprint"))
    new_fp = extract_pages_fused(read_warc(spark, [arc2])).select(
        "url", doc_fingerprint("text").alias("fingerprint"))
    delta_df = crawl_delta(old_fp, new_fp)
    delta = {r["url"]: r["status"] for r in delta_df.collect()}
    assert delta["https://h1.example.com/doc/1"] == "changed"
    assert delta["https://h1.example.com/doc/5"] == "gone"
    assert delta["https://h0.example.com/doc/6"] == "new"
    assert sum(1 for s in delta.values() if s == "unchanged") == 4

    # 8. the loop closes: delta + robots + sitemap lastmods compose into
    # the NEXT cycle's per-host rate-bounded fetch schedule
    from ocr_agent_spark.functions.frontier import politeness_frontier

    sched = politeness_frontier(
        delta_df, dt.datetime(2026, 6, 1), per_host_delay_sec=2,
        robots_rules=robots_rules_table(robots),
        sitemap_lastmod=frontier.select("url", "lastmod"),
    )
    rows = {r["url"]: r for r in sched.collect()}
    assert "https://h1.example.com/doc/5" not in rows          # gone
    # each host's first fetch is the new/changed page, at the cycle start
    assert rows["https://h0.example.com/doc/6"]["fetch_rank"] == 1
    assert rows["https://h1.example.com/doc/1"]["fetch_rank"] == 1
    # rate bound holds per host
    for r in rows.values():
        assert r["next_fetch_ts"] == dt.datetime(2026, 6, 1) + dt.timedelta(
            seconds=2 * (r["fetch_rank"] - 1))
    assert len(rows) == 6  # the 6 gen2 urls (doc/5 gone), nothing private
