"""Regression tests for the round-7 ADVICE fixes.

- budget.py: base allocation must be exact BIGINT `div` (a double
  quotient truncates past 2^53) and the int64 product bound must be
  ENFORCED in-plan, not just documented.
- packing.py / corpus.py: pack_id and the prefix-sum bucket key use
  integer `div` — boundary documents past 2^53 tokens must not drift.
- similarity.py: zero-norm embeddings make cosine NaN; Spark orders
  NaN above every number, so an unguarded `>= threshold` pairs a
  degenerate vector with everything.
- kernel/warcfile.py: UTF-8 URLs written by the WET and WARC writers
  must read back byte-identical (reader used to decode latin-1).
- kernel/links.py: extract_anchors/extract_links share one <a href>
  detection regex, and unclosed anchors scan a bounded window instead
  of to end-of-document.
"""

import io
import time

import pytest

from pyspark.sql import functions as F


# -- budget ------------------------------------------------------------------


def test_budget_exact_past_double_precision(spark):
    # N·w_micro ≈ 8.6e17 > 2^53 ≈ 9.0e15: a double quotient here is
    # not exact; the allocation must still sum to exactly N.
    from ocr_agent_spark.functions.budget import allocate_budget

    # w_micro ≈ 1e11, N ≈ 1e6 → N·w ≈ 1e17: > 2^53, < 2^63
    budget = 1_254_111
    pairs = [(f"h{i:03d}", 99_983.0 + 7.0 * i) for i in range(40)]
    df = spark.createDataFrame(pairs, "host string, weight double")
    rows = allocate_budget(df, budget).collect()
    assert sum(r["allocation"] for r in rows) == budget
    # every host within 1 of its ideal share
    tot = sum(round(w * 1e6) for _, w in pairs)
    for r in rows:
        ideal = budget * round(dict(pairs)[r["host"]] * 1e6) / tot
        assert abs(r["allocation"] - ideal) <= 1.0


def test_budget_overflow_guard_raises(spark):
    # total_budget * micro-weight past int64 must raise in-plan, not
    # silently wrap.
    from ocr_agent_spark.functions.budget import allocate_budget

    # w_micro = 1e12 fits int64, but N·w = 1e22 does not
    df = spark.createDataFrame(
        [("big", 1e6), ("small", 1.0)], "host string, weight double"
    )
    with pytest.raises(Exception, match="overflows int64"):
        allocate_budget(df, 10_000_000_000).collect()


# -- packing -----------------------------------------------------------------


def test_pack_id_exact_past_double_precision(spark):
    # Prefix sums beyond 2^53: (prefix div budget) must place the
    # boundary document exactly. With float `/`, prefix 2^53+1 and
    # budget (2^53+1)/k collapse to the wrong pack.
    from ocr_agent_spark.functions.packing import assign_packs

    big = (1 << 53) + 1  # not representable as double
    docs = spark.createDataFrame(
        [(0, big), (1, 1), (2, 1)], "doc_id long, n_tokens long"
    )
    got = {
        r["doc_id"]: (r["prefix_sum"], r["pack_id"])
        for r in assign_packs(docs, big).collect()
    }
    assert got[0] == (0, 0)
    # doc 1 starts exactly AT the boundary token `big` → pack 1; a
    # double quotient of big/big after 2^53 rounding can give pack 0
    assert got[1] == (big, 1)
    assert got[2] == (big + 1, 1)


def test_bucket_key_integer_div(spark):
    from ocr_agent_spark.functions.packing import exclusive_prefix_sum

    # ids straddling a bucket boundary near 2^53 must land in the
    # right bucket (float division misassigns the boundary row).
    b = 4096
    base = ((1 << 53) // b) * b  # a bucket boundary past 2^53
    docs = spark.createDataFrame(
        [(base - 1, 10), (base, 20), (base + 1, 30)],
        "doc_id long, n_tokens long",
    )
    rows = {
        r["doc_id"]: r["prefix_sum"]
        for r in exclusive_prefix_sum(docs, "n_tokens").collect()
    }
    assert rows == {base - 1: 0, base: 10, base + 1: 30}


# -- similarity NaN guard ----------------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_zero_norm_vector_pairs_with_nothing(spark):
    from ocr_agent_spark.functions.similarity import (
        embedding_near_duplicates,
        embedding_near_duplicates_exact,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),   # true dup of 1
        (3, [0.0, 0.0, 0.0]),   # degenerate: must pair with nothing
        (4, [0.0, 0.0, 0.0]),   # second zero vector: not even with 3
    ]
    exact = embedding_near_duplicates_exact(_emb(spark, rows), 0.9).collect()
    got = {(r["id_a"], r["id_b"]) for r in exact}
    assert got == {(1, 2)}
    lsh = embedding_near_duplicates(
        _emb(spark, rows), 0.9, bands=4, rows_per_band=4
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} <= {(1, 2)}


def test_semantic_dedup_keeps_all_zero_vectors(spark):
    # NaN edges must not fuse the degenerate vectors into one cluster.
    from ocr_agent_spark.functions.similarity import semantic_dedup_keep

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 1e-9]),       # near-dup of 1 → one survivor
        (3, [0.0, 0.0]),
        (4, [0.0, 0.0]),
    ]
    kept = {
        r["vec_id"]
        for r in semantic_dedup_keep(_emb(spark, rows), 0.99, exact=True)
        .collect()
    }
    assert kept == {1, 3, 4}


# -- WARC/WET non-ASCII URL round trip ---------------------------------------


_TS = __import__("datetime").datetime(
    2024, 1, 2, 3, 4, 5, tzinfo=__import__("datetime").timezone.utc
)


def test_wet_nonascii_url_roundtrip():
    from ocr_agent_spark.kernel.warcfile import (
        iter_wet_texts,
        write_wet_record,
    )

    url = "https://exämple.jp/ページ?q=naïve"
    buf = io.BytesIO()
    write_wet_record(buf, url, _TS, "body text")
    buf.seek(0)
    [(got_url, _ts, got_text)] = list(iter_wet_texts(buf))
    assert got_url == url
    assert got_text == "body text"


def test_warc_nonascii_location_roundtrip():
    from ocr_agent_spark.kernel.warcfile import (
        iter_warc_records,
        parse_http_response,
        write_warc_record,
    )

    url = "https://exämple.jp/start"
    loc = "https://exämple.jp/ziel"
    buf = io.BytesIO()
    write_warc_record(buf, url, _TS, b"", status=301, location=loc)
    buf.seek(0)
    [(headers, body)] = list(iter_warc_records(buf))
    assert headers["warc-target-uri"] == url
    http = parse_http_response(body)
    assert http is not None
    assert http[0]["location"] == loc


def test_legacy_latin1_header_still_parses():
    # raw 8-bit (non-UTF-8) header bytes fall back to latin-1
    from ocr_agent_spark.kernel.warcfile import parse_http_response

    raw = b"HTTP/1.1 200 OK\r\nX-Legacy: caf\xe9\r\n\r\nbody"
    headers, body = parse_http_response(raw)
    assert headers["x-legacy"] == "café"
    assert body == b"body"


# -- links: alignment + bounded unclosed-anchor scan -------------------------


def test_anchor_href_detection_aligned():
    from ocr_agent_spark.kernel.links import extract_anchors, extract_links

    html = (
        b'<a href="/one">first</a>'
        b'<a class="x" href="/two">second</a>'
        b'<a href=/bare>bare</a>'
        b'<a href="/unclosed">never closed'
    )
    links = extract_links(html, "http://h.example/")
    anchors = extract_anchors(html, "http://h.example/")
    # every anchor href is a link href, and the only difference is the
    # documented one: unclosed anchors have an edge but no text
    assert {a for a, _ in anchors} <= set(links)
    assert set(links) - {a for a, _ in anchors} == {
        "http://h.example/unclosed"
    }
    assert dict(anchors)["http://h.example/one"] == "first"
    assert dict(anchors)["http://h.example/two"] == "second"


def test_unclosed_anchors_scan_bounded():
    from ocr_agent_spark.kernel.links import extract_anchors

    # 2000 unclosed anchors over ~2 MB of trailing junk: the old lazy
    # regex scanned to EOF per anchor (quadratic, minutes); the bounded
    # find must finish fast and emit no anchor text.
    page = b"".join(
        b'<a href="/u%d">text without close ' % i for i in range(2000)
    ) + b"x" * 2_000_000
    t0 = time.monotonic()
    anchors = extract_anchors(page, "http://h.example/")
    elapsed = time.monotonic() - t0
    assert anchors == []
    assert elapsed < 10.0


def test_anchor_body_cap_treats_giant_body_as_unclosed():
    from ocr_agent_spark.kernel.links import extract_anchors

    html = b'<a href="/giant">' + b"y" * (1 << 17) + b"</a>"
    assert extract_anchors(html, "http://h.example/") == []


# -- pagerank deep-loop lineage cut -------------------------------------------


def test_pagerank_deep_loop_bounded_plan(spark):
    # 50 iterations: without the per-round lineage cut the analyzed
    # plan doubles per round (~2^50 nodes — analyzer OOM long before);
    # with it the returned plan is a constant-size scan over the last
    # cut. Also re-checks values against the serial reference, so the
    # broadcast dangling-mass fold is semantics-preserving at depth.
    from tests.test_r6_ops import _pagerank_reference

    from ocr_agent_spark.functions.pagerank import host_pagerank

    edges = [(f"n{i}", f"n{i + 1}") for i in range(40)] + [("n40", "n0"),
                                                           ("n3", "n17")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = host_pagerank(df, iterations=50)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 20_000, f"plan grew with iterations: {len(plan)} chars"
    got = {r["node"]: r["rank"] for r in out.collect()}
    want = _pagerank_reference(edges, 50)
    for v in want:
        assert abs(got[v] - want[v]) <= 1e-6, v


def test_pagerank_reliable_checkpoint_gc(spark, tmp_path):
    # reliable mode: superseded round dirs are deleted as the loop
    # advances; the final round's files survive and back the result.
    import os

    from ocr_agent_spark.functions.pagerank import host_pagerank

    ckpt = str(tmp_path / "pr_ckpt")
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    out = host_pagerank(df, iterations=6, checkpoint_dir=ckpt)
    rows = out.collect()
    assert len(rows) == 3
    remaining = [d for d in os.listdir(ckpt) if d.startswith("round-")]
    assert len(remaining) == 1, remaining


# -- trained quality classifier ------------------------------------------------


def test_trained_weights_separate_spam_from_clean(spark):
    # Naive-Bayes log-odds LEARNED from labeled fixtures must rank the
    # held-out spam below held-out clean text; the pseudo-random
    # hash_weights stand-in must not show that structure. Proves the
    # "swap the weight table and nothing else changes" claim with
    # weights actually learned from data.
    from ocr_agent_spark.functions.qualityclf import (
        classify_quality,
        hash_weights,
        train_quality_weights,
    )

    clean_words = ("the quick brown fox jumps over a lazy dog near the "
                   "quiet river bank every sunny morning").split()
    spam_words = ("viagra casino bonus click winner free jackpot "
                  "pills cheap lottery prize claim").split()

    def doc(words, i, n=30):
        return " ".join(words[(i + j) % len(words)] for j in range(n))

    train = [(i, doc(clean_words, i), 1) for i in range(20)] + [
        (100 + i, doc(spam_words, i), 0) for i in range(20)
    ]
    test = [(200 + i, doc(clean_words, 7 + i), 1) for i in range(5)] + [
        (300 + i, doc(spam_words, 7 + i), 0) for i in range(5)
    ]
    train_df = spark.createDataFrame(
        train, "doc_id long, text string, label int"
    )
    test_df = spark.createDataFrame(
        test, "doc_id long, text string, label int"
    )

    learned = train_quality_weights(train_df, dim=512)
    got = {
        r["doc_id"]: r["prob"]
        for r in classify_quality(test_df, learned, dim=512).collect()
    }
    clean_probs = [got[i] for i, _, y in test if y == 1]
    spam_probs = [got[i] for i, _, y in test if y == 0]
    assert min(clean_probs) > max(spam_probs), (clean_probs, spam_probs)

    stand_in = {
        r["doc_id"]: r["prob"]
        for r in classify_quality(
            test_df, hash_weights(spark, dim=512), dim=512
        ).collect()
    }
    si_clean = sum(stand_in[i] for i, _, y in test if y == 1) / 5
    si_spam = sum(stand_in[i] for i, _, y in test if y == 0) / 5
    learned_gap = sum(clean_probs) / 5 - sum(spam_probs) / 5
    assert learned_gap > 0.2
    assert abs(si_clean - si_spam) < learned_gap / 2


def test_train_quality_weights_full_bucket_domain(spark):
    # every bucket gets a row (zero-count buckets carry the smoothing
    # prior) so classify_quality's broadcast join never drops a term
    from ocr_agent_spark.functions.qualityclf import train_quality_weights

    df = spark.createDataFrame(
        [(1, "hello world", 1), (2, "bad stuff", 0)],
        "doc_id long, text string, label int",
    )
    w = train_quality_weights(df, dim=64).collect()
    assert len(w) == 64
    assert {r["bucket"] for r in w} == set(range(64))


# -- chunked corpus capstone --------------------------------------------------


def test_corpus_chunked_mega_document(spark):
    # with chunk_target set, a 200-paragraph mega-document flows
    # through chunk_documents before packing: it must land as MULTIPLE
    # budget-sized sequences, each chunk its own shard/pack unit.
    from ocr_agent_spark.corpus import build_training_corpus

    base = (
        "the data be processed to the end of and that have with more "
        "words to clear the gopher floor for this synthetic document"
    )
    rows = [(i, f"{base} variant {i}") for i in range(10)]
    rows.append((500, "\n".join(f"{base} paragraph {j}" for j in range(200))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    out, counts = build_training_corpus(
        docs, lang="en", min_words=10, chunk_target=100,
        n_shards=2, pack_budget=128, report=True,
    )
    got = out.collect()
    stages = {c.stage: (c.rows_in, c.rows_out) for c in counts}
    assert stages["chunk"][0] == 11
    assert stages["chunk"][1] > 11          # the mega-doc fanned out
    mega = sorted(
        (r for r in got if r["doc_id"] == 500), key=lambda r: r["chunk_id"]
    )
    # 200 paras × 25 tokens = 5000 tokens at target 100 → 50 chunks
    assert len(mega) >= 40
    # every chunk is budget-sized: closes only after crossing target,
    # over by at most one paragraph (25 tokens)
    for r in mega:
        assert r["n_tokens"] <= 100 + 25
    assert sum(r["n_tokens"] for r in mega) == 5000
    # chunk unit keys shuffle independently: the mega-doc's chunks
    # spread across shards instead of landing as one giant row
    assert len({r["shard"] for r in mega}) == 2
    # short docs stay single-chunk
    for r in got:
        if r["doc_id"] != 500:
            assert r["chunk_id"] == 0


def test_corpus_unchunked_output_shape_unchanged(spark):
    # default (chunk_target=None) keeps the r6 output contract exactly
    from ocr_agent_spark.corpus import build_training_corpus

    docs = spark.createDataFrame(
        [(i, "the data be processed to the end of and that have with "
             f"more words to clear the gopher floor number {i}")
         for i in range(8)],
        ["doc_id", "text"],
    )
    out = build_training_corpus(docs, lang="en", min_words=10)
    assert out.columns == ["doc_id", "n_tokens", "shuffle_key", "shard",
                           "pack_id"]
    assert out.count() == 8
