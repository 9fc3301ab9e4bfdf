"""Round-8 optimization regression tests.

Every optimization this round is required to be result-identical; these
tests pin the equivalences (and the ADVICE-r7 correctness fixes that
rode along) so later refactors cannot silently drift.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# widen_if_narrow
# ---------------------------------------------------------------------------


def test_widen_if_narrow_widens_single_partition(spark):
    from ocr_agent_spark.partitioning import widen_if_narrow

    df = spark.range(1000).coalesce(1)
    # bytes_per_task=1 forces the size-based count to the full target
    out = widen_if_narrow(df, target=8, bytes_per_task=1)
    assert out.rdd.getNumPartitions() == 8
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_widen_if_narrow_noop_on_parallel_input(spark):
    from ocr_agent_spark.partitioning import widen_if_narrow

    df = spark.range(1000).repartition(8)
    out = widen_if_narrow(df, target=8)
    # 2*8 >= 8 → untouched plan object, no extra exchange
    assert out is df


def test_widen_if_narrow_sizes_by_plan_bytes(spark):
    # A tiny single-partition input must NOT fan out to the full
    # target: the size estimate caps the repartition (and skips the
    # exchange entirely when one partition suffices) — otherwise every
    # downstream stage schedules `target` near-empty tasks.
    from ocr_agent_spark.partitioning import widen_if_narrow

    tiny = spark.range(100).coalesce(1)
    out = widen_if_narrow(tiny, target=8)  # ~800 est. bytes → 1 task
    assert out is tiny
    # a large-estimate input still widens to the full target
    big = widen_if_narrow(tiny, target=8, bytes_per_task=1)
    assert big.rdd.getNumPartitions() == 8


def test_widen_preserves_dedup_results(spark):
    # The widened shingle path must produce identical minhash pairs to
    # a manually-parallel input (placement must never change values).
    from ocr_agent_spark.functions.dedup import minhash_near_duplicates

    rows = [(i, f"alpha beta gamma delta epsilon zeta doc {i % 7} tail")
            for i in range(60)]
    one = _docs(spark, rows).coalesce(1)
    many = _docs(spark, rows).repartition(8)
    p1 = sorted(map(tuple, minhash_near_duplicates(
        one, threshold=0.3).select("id_a", "id_b", "jaccard").collect()))
    p2 = sorted(map(tuple, minhash_near_duplicates(
        many, threshold=0.3).select("id_a", "id_b", "jaccard").collect()))
    assert p1 == p2
    assert p1  # non-vacuous: the %7 template makes near-dups certain


# ---------------------------------------------------------------------------
# pair-scoped verify ≡ generic jaccard + closing semi-join
# ---------------------------------------------------------------------------


def test_pair_scoped_jaccard_matches_generic(spark):
    from ocr_agent_spark.functions.dedup import (
        _jaccard_for_pairs,
        ngram_jaccard_from_shingles,
        shingle_table,
    )

    rows = []
    for i in range(40):
        base = f"the quick brown fox {i % 5} jumps over the lazy dog again"
        rows.append((i, base))
        rows.append((100 + i, base + (" extra tail words" if i % 2 else "")))
    sh = shingle_table(_docs(spark, rows))
    pairs = spark.createDataFrame(
        [(i, 100 + i) for i in range(40)] + [(0, 5), (1, 6)],
        "id_a long, id_b long",
    )
    for max_df in (None, 16):
        generic = (
            ngram_jaccard_from_shingles(sh, 0.2, max_df)
            .join(pairs, ["id_a", "id_b"], "left_semi")
        )
        scoped = _jaccard_for_pairs(pairs, sh, 0.2, max_df)
        g = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                   for r in generic.collect())
        s = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                   for r in scoped.collect())
        assert g == s and g, f"mismatch at max_df={max_df}"


def test_minhash_near_duplicates_subset_of_candidates(spark):
    # The r8 restructure dropped the closing semi-join; the output must
    # still be candidate pairs only (and carry a valid jaccard).
    from ocr_agent_spark.functions.dedup import minhash_near_duplicates

    rows = [(i, f"one two three four five six {i % 4} seven eight")
            for i in range(50)]
    out = minhash_near_duplicates(_docs(spark, rows), threshold=0.5).collect()
    assert out
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert 0.5 <= r["jaccard"] <= 1.0


# ---------------------------------------------------------------------------
# mathdown fast paths (byte-identical)
# ---------------------------------------------------------------------------


def test_mathdown_fast_paths_byte_identical():
    from ocr_agent_spark.kernel import mathdown as m

    def reference(text):
        # The pre-r8 per-line scan, reproduced verbatim.
        out, plain_buf, fence_char = [], [], None

        def drain():
            if plain_buf:
                out.append(m._rewrite_plain_segment("".join(plain_buf)))
                plain_buf.clear()

        for line in text.splitlines(keepends=True):
            mt = m._RE_FENCE.match(line)
            if not (mt is not None and mt.group(1).strip() == ""):
                (out if fence_char else plain_buf).append(line)
                continue
            marker = mt.group(2)
            if fence_char is None:
                drain()
                fence_char = marker[0]
                out.append(line)
            elif marker[0] == fence_char:
                fence_char = None
                out.append(line)
            else:
                out.append(line)
        drain()
        return "".join(out)

    import random

    rng = random.Random(88)
    pieces = ["\\(x+y\\)", "\\[ E=mc^2 \\]", "plain", "```", "~~~", "```py",
              "  ```", "\\(", "\\]", "$$", "word " * 3, "\n", "\r\n",
              "\\[m\nl\\]", "tail"]
    for _ in range(3000):
        t = "".join(rng.choice(pieces) + rng.choice(["", "\n", " "])
                    for _ in range(rng.randint(0, 10)))
        assert m.convert_math_delimiters(t) == reference(t)


# ---------------------------------------------------------------------------
# ADVICE r7 correctness fixes
# ---------------------------------------------------------------------------


def test_bloom_duplicate_seen_urls_not_false_negative(spark):
    from ocr_agent_spark.functions.urlseen import (
        build_url_bloom,
        filter_unseen_urls,
    )

    seen = spark.createDataFrame(
        [(f"https://h{i}.example.com/p",) for i in range(50)], "url string"
    )
    bloom = build_url_bloom(seen).persist()
    bloom.count()
    # candidate batch with a SEEN url appearing 3 times + unseen dups
    cand = spark.createDataFrame(
        [("https://h1.example.com/p",)] * 3
        + [("https://new.example.com/x",)] * 2,
        "url string",
    )
    out = [r["url"] for r in filter_unseen_urls(cand, bloom).collect()]
    assert all(u == "https://new.example.com/x" for u in out), (
        "duplicated SEEN url leaked through as unseen (Bloom false "
        f"negative): {out}"
    )
    assert len(out) == 2  # unseen dups keep their multiplicity
    bloom.unpersist()


def test_bpe_jvm_pretok_unicode_whitespace_parity(spark):
    from ocr_agent_spark.functions.bpe import distributed_word_freq, pre_tokenize

    texts = ["x \xa0 y", "a\u3000b ideographic", "plain ascii words",
             "nb\xa0sp twice\xa0\xa0here"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = {
        (r["word"], r["freq"])
        for r in distributed_word_freq(docs).collect()
    }
    from collections import Counter

    py = Counter()
    for t in texts:
        py.update(pre_tokenize(t))
    assert jvm == set(py.items())


def test_semantic_index_empty_and_mixed_dim_errors(spark, tmp_path):
    from ocr_agent_spark.functions.dedup_index import build_semantic_index

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty"):
        build_semantic_index(empty, str(tmp_path / "semidx"))
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="mixed"):
        build_semantic_index(mixed, str(tmp_path / "semidx2"))


# ---------------------------------------------------------------------------
# r8b: inlined render loop ≡ kernel render_row_block; reuse_shingles parity
# ---------------------------------------------------------------------------


def test_partition_blocks_matches_render_row_block():
    import pandas as pd

    from ocr_agent_spark.kernel.merge import MergeRow, render_row_block
    from ocr_agent_spark.operators.merge import _partition_blocks

    rows = [
        ("u1", "html", None, None, "plain text body"),
        ("u2", "pdf_page", 0, 3, "page body with \\(x\\) math"),
        ("u3", "pdf_page", 2, 3, "last page"),
        ("u4", "html", None, None, ""),            # skipped: empty
        ("u5", "html", None, None, "   \t\n"),     # skipped: whitespace
        ("u6", "html", None, None, " "),      # unicode whitespace
        ("u7", "pdf_page", None, 5, "pdf page with no index"),
        ("u8", "html", None, None, "fence\n```\n\\[keep\\]\n```\ndone"),
    ]
    batch = pd.DataFrame(
        rows, columns=["url", "kind", "page_index", "total_pages", "text"]
    )
    for style in ("dollar", "brackets"):
        fast = _partition_blocks(iter([batch]), style)
        slow = []
        for url, kind, pi, tp, text in rows:
            block = render_row_block(
                MergeRow(url=url, kind=kind, page_index=pi,
                         total_pages=tp, text=text), style)
            if block is not None:
                slow.append(block)
        assert fast == slow, f"render drift at style={style}"


def test_minhash_reuse_shingles_parity(spark):
    # The r8b default flip (reuse_shingles False) must not change a
    # single pair: both paths verify the same candidate-scoped shingle
    # universe.
    from ocr_agent_spark.functions.dedup import minhash_near_duplicates

    rows = [(i, f"alpha beta gamma delta {i % 6} epsilon zeta eta theta")
            for i in range(80)]
    docs = _docs(spark, rows)
    a = sorted(map(tuple, minhash_near_duplicates(
        docs, threshold=0.3, reuse_shingles=True)
        .select("id_a", "id_b", "jaccard").collect()))
    b = sorted(map(tuple, minhash_near_duplicates(
        docs, threshold=0.3, reuse_shingles=False)
        .select("id_a", "id_b", "jaccard").collect()))
    assert a == b and a


def test_fused_banding_matches_array_form(spark):
    # _banded_from_shingles (one agg + one projection) must produce
    # bit-identical (doc_id, band, bucket) rows to the signatures →
    # array → slice composition it replaces.
    from ocr_agent_spark.functions.dedup import (
        _banded_from_shingles,
        _minhash_banded_table,
        minhash_signatures_from_shingles,
        shingle_table,
    )

    rows = [(i, f"one two three four {i % 9} five six seven") for i in range(60)]
    sh = shingle_table(_docs(spark, rows))
    fused = sorted(map(tuple, _banded_from_shingles(sh, 32, 8).collect()))
    composed = sorted(map(tuple, _minhash_banded_table(
        minhash_signatures_from_shingles(sh, 32), 32, 8).collect()))
    assert fused == composed and fused
