"""Function library: text analysis, dedup tiers, ANN, multimodal plumbing."""

import pyspark.sql.functions as F
import pytest

from ocr_agent_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base, "en"),
        (1, base, "en"),                                   # exact dup of 0
        (2, base.replace("today", "tomorrow"), "en"),      # near dup of 0
        (3, "völlig anderer text der die deutschen stopwörter und das und ist nicht ein mit", "de"),
        (4, "completely different content about spark partitions and shuffle behavior in the cluster", "en"),
        (5, "THE  QUICK   brown fox jumps over the lazy dog near the river bank today", "en"),  # normalized dup of 0
        (6, "", "en"),
        (7, None, "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").persist()


# -- text analysis ---------------------------------------------------------


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", text.token_count("text").alias("n")).collect()}
    assert got[0] == 14
    assert got[6] == 0
    assert got[7] is None


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["l"] for r in docs.select("doc_id", text.lang_id("text").alias("l")).collect()}
    assert got[0] == "en"
    assert got[3] == "de"
    assert got[6] == "und"


def test_quality_score_range(spark, docs):
    rows = docs.filter(F.col("text").isNotNull()).select(text.quality_score("text").alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_fingerprint_normalization(spark, docs):
    got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", text.doc_fingerprint("text").alias("fp")).collect()}
    assert got[0] == got[1] == got[5]  # case/whitespace-insensitive
    assert got[0] != got[2]


def test_rolling_fingerprint_udf(spark, docs):
    udf = text.rolling_fingerprint_udf()
    got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", udf("text").alias("fp")).collect()}
    assert got[0] == got[1] == got[5]
    assert got[7] is None


# -- dedup -----------------------------------------------------------------


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keeper_id"] == 0
    assert groups[0]["dup_count"] == 3  # docs 0, 1, 5


def test_dedup_exact_keeps_one(spark, docs):
    kept = dedup.dedup_exact(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids and 5 not in ids
    assert {2, 3, 4} <= ids


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs.filter(F.col("doc_id").isin(0, 2, 4)),
                                      threshold=0.5).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(0, 2)}
    assert all(0.5 <= p["jaccard"] < 1.0 for p in pairs)


def test_minhash_lsh_agrees_with_exact_jaccard(spark, docs):
    """MinHash+LSH near-dups must equal brute-force jaccard pairs at the
    same threshold on this corpus (self-verification oracle)."""
    d = docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    exact = {
        (p["id_a"], p["id_b"])
        for p in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    lsh = {
        (p["id_a"], p["id_b"])
        for p in dedup.minhash_near_duplicates(d, threshold=0.5).collect()
    }
    assert lsh == exact


def test_minhash_reuse_shingles_equals_recompute(spark, docs):
    """The shingle-reuse fast path (one tokenize pass feeding signature
    AND verify stages) must be value-identical to the recompute path."""
    d = docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    reuse = {
        (p["id_a"], p["id_b"], round(p["jaccard"], 6))
        for p in dedup.minhash_near_duplicates(d, threshold=0.4,
                                               reuse_shingles=True).collect()
    }
    recompute = {
        (p["id_a"], p["id_b"], round(p["jaccard"], 6))
        for p in dedup.minhash_near_duplicates(d, threshold=0.4,
                                               reuse_shingles=False).collect()
    }
    assert reuse == recompute and reuse


def test_simhash_near_duplicates(spark, docs):
    sigs = dedup.simhash_signatures(docs.filter(F.col("doc_id").isin(0, 1, 4))).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in sigs}
    assert by_id[0] == by_id[1]  # identical text → identical signature
    pairs = dedup.simhash_near_duplicates(
        docs.filter(F.col("doc_id").isin(0, 1, 4)), max_hamming=3
    ).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(0, 1)}


def test_simhash_md5_variant_same_algorithm_properties(spark, docs):
    """The engine-portable md5 hash primitive (oracle form) preserves
    the simhash algorithm's properties: identical text → identical
    signature, distinct text → different signature, deterministic."""
    sub = docs.filter(F.col("doc_id").isin(0, 1, 4))
    a = {r["doc_id"]: r["simhash"]
         for r in dedup.simhash_signatures(sub, hash_fn="md5").collect()}
    b = {r["doc_id"]: r["simhash"]
         for r in dedup.simhash_signatures(sub, hash_fn="md5").collect()}
    assert a == b
    assert a[0] == a[1]
    assert a[0] != a[4]
    # and it's genuinely a different hash family than the default
    x = {r["doc_id"]: r["simhash"]
         for r in dedup.simhash_signatures(sub).collect()}
    assert x[0] != a[0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown hash_fn"):
        dedup.simhash_signatures(sub, hash_fn="sha1")


def test_connected_components_chain_and_star(spark):
    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3) + star 10-(11,12) + isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comps = {r["doc_id"]: r["component"]
             for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_log_convergence(spark):
    """Pointer jumping: a 200-hop chain converges well inside a
    logarithmic iteration budget (plain label propagation would need
    ~200 rounds and strict mode would raise)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    comps = dedup.connected_components(pairs, max_iterations=12, strict=True)
    vals = {r["component"] for r in comps.collect()}
    assert vals == {0}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-round lineage cut to reliable
    checkpoint() (executor-loss-safe on a cluster): same labels, and the
    checkpoint files actually land under the given directory."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comps = {r["doc_id"]: r["component"]
             for r in dedup.connected_components(
                 pairs, checkpoint_dir=ckpt).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing under checkpoint_dir"
    # superseded rounds are deleted as the loop advances (Spark never
    # cleans reliable checkpoints itself) — only the final round's
    # subdir may remain, so a 20-round run can't leave 20 table copies
    rounds = [d for d in os.listdir(ckpt) if d.startswith("round-")]
    assert len(rounds) == 1, rounds


def test_connected_components_folded_convergence_check(spark):
    """The convergence count is folded into the round's checkpoint (the
    previous label rides along as _prev; changed = filter+count over the
    already-materialized blocks) instead of a separate join against the
    old label table. Evidence: total jobs/stages for a 3-round run stay
    under the join-based formulation's footprint (measured on this
    fixture: folded 42 jobs / 81 stages, join-based 49 jobs / 96 — the
    bounds below sit between the two with margin for AQE jitter)."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    sc.setJobGroup("cc-fold", "cc folded-convergence evidence")
    try:
        comps = {r["doc_id"]: r["component"]
                 for r in dedup.connected_components(pairs).collect()}
    finally:
        sc.setJobGroup(None, None)
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("cc-fold")
    total_stages = sum(len(st.getJobInfo(j).stageIds) for j in jobs)
    assert len(jobs) <= 46, f"convergence check regressed to extra jobs: {len(jobs)}"
    assert total_stages <= 90, f"convergence check regressed to extra stages: {total_stages}"


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=2, strict=True)


def test_dedup_near_collapses_transitive_cluster(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (0, base),
        (1, base + " lambda"),          # near-dup of 0
        (2, base + " lambda mu"),       # near-dup of 1 (transitively of 0)
        (3, "totally different words about spark shuffles and parquet row groups here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup.dedup_near(docs, threshold=0.6).collect()}
    assert kept == {0, 3}


@pytest.fixture(scope="module")
def stopword_corpus(spark):
    """50 docs all sharing one stopword shingle ('it is known'), each with
    otherwise-unique content, plus two planted near-dup pairs (100/101
    and 102/103) that share REAL discriminating shingles."""
    rows = []
    for i in range(50):
        rows.append((i, f"it is known that doc{i} alone covers subject{i} topic{i} theme{i}"))
    dup_base = "it is known that ringed planets orbit distant binary stars slowly"
    rows.append((100, dup_base))
    rows.append((101, dup_base + " indeed"))
    dup2 = "it is known that glacial meltwater carves deep basalt canyons yearly"
    rows.append((102, dup2))
    rows.append((103, dup2 + " truly"))
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


def test_hot_shingle_cap_bounds_pairs_and_keeps_planted_dups(spark, stopword_corpus):
    """The df cap removes the stopword shingle from the verify join: the
    C(54,2)=1431 pairs it alone would generate disappear, while the
    planted near-dup pairs (joined by their unique content shingles)
    survive with high jaccard."""
    sh = dedup.shingle_table(stopword_corpus)
    uncapped = dedup.ngram_jaccard_from_shingles(sh, threshold=0.0)
    capped = dedup.ngram_jaccard_from_shingles(sh, threshold=0.0, max_shingle_df=10)

    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped >= 1431  # every pair shares 'it is known' (+ 'is known that')
    assert n_capped < 50       # only pairs sharing a sub-cap shingle remain

    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert (100, 101) in got and got[(100, 101)] > 0.6
    assert (102, 103) in got and got[(102, 103)] > 0.6


def test_hot_shingle_cap_identical_docs_still_score_one(spark):
    """Jaccard over the filtered universe: two identical docs keep 1.0
    even when some of their shingles are capped away."""
    rows = [(i, "common shared prefix words here unique" + ("" if i < 20 else " tail")) for i in range(22)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.99, max_shingle_df=15)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (20, 21) in got  # the two 'tail' docs are identical


def test_shingle_df_stats_report(spark, stopword_corpus):
    """No-silent-caps: the stats row quantifies exactly what a given cap
    would drop (distinct hot shingles, rows removed, worst df)."""
    sh = dedup.shingle_table(stopword_corpus)
    row = dedup.shingle_df_stats(sh, max_shingle_df=10).collect()[0]
    # 'it is known' and 'is known that' appear in all 54 docs; 'known
    # that doc{i}'-style shingles are unique.
    assert row["max_df"] == 54
    assert row["n_shingles_hot"] == 2
    assert row["n_rows_dropped"] == 108
    assert row["n_shingles_distinct"] > 100
    assert row["n_rows_total"] > row["n_rows_dropped"]
    # consistency with the filter itself
    kept_rows = dedup._drop_hot_shingles(sh, 10).count()
    assert kept_rows == row["n_rows_total"] - row["n_rows_dropped"]


def test_minhash_near_dups_unchanged_by_default_cap(spark, stopword_corpus):
    """The default cap (1000) must not perturb results at test scale:
    capped and uncapped pipelines return identical pairs."""
    with_cap = dedup.minhash_near_duplicates(stopword_corpus, threshold=0.5)
    no_cap = dedup.minhash_near_duplicates(stopword_corpus, threshold=0.5,
                                           max_shingle_df=None)
    a = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in with_cap.collect()}
    b = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in no_cap.collect()}
    assert a == b and a


def test_minhash_band_bucket_cap_and_stats(spark):
    """Banding-join skew backstop (r5 symmetry with the embedding
    path): an oversized (band, bucket) is dropped from candidate
    generation, bounded-pairs guaranteed; the stats report quantifies
    the drop; and dedup_near still collapses the mass-dup cluster via
    its exact-collapse-first step."""
    boiler = "identical template page body repeated verbatim across sites"
    rows = [(i, boiler) for i in range(30)]  # one bucket of 30 per band
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows += [(100, base), (101, base + " lambda")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.minhash_lsh_candidates(docs, max_bucket_size=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs          # small buckets unaffected
    assert not any(a < 30 and b < 30 for a, b in pairs)  # 30-doc bucket dropped

    uncapped = dedup.minhash_lsh_candidates(docs)
    assert sum(1 for a, b in
               {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
               if a < 30 and b < 30) == 435  # C(30,2) — what the cap kills

    stats = dedup.minhash_band_bucket_stats(docs, max_bucket_size=10).collect()
    assert all(r["max_bucket"] == 30 for r in stats)
    assert all(r["n_rows_dropped"] == 30 for r in stats)

    # the full keep-policy still collapses the cluster (exact-first)
    kept = {r["doc_id"] for r in
            dedup.dedup_near(docs, threshold=0.6, max_shingle_df=10,
                             max_bucket_size=10).collect()}
    assert kept == {0, 100}


def test_simhash_bucket_cap(spark):
    docs = spark.createDataFrame(
        [(i, "same tokens everywhere forever") for i in range(20)]
        + [(100, "one unusual document standing apart"),
           (101, "one unusual document standing apart")],
        "doc_id long, text string",
    )
    capped = dedup.simhash_near_duplicates(docs, max_hamming=3,
                                           max_bucket_size=5)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert not any(a < 20 and b < 20 for a, b in pairs)
    assert (100, 101) in pairs


def test_dedup_near_mass_duplicated_doc_survives_cap(spark):
    """code-review r5: a text copied more times than max_shingle_df
    must still collapse to ONE keeper — the exact-collapse-first step
    protects the capped verify from emptying its shingle set."""
    boiler = "identical boilerplate page body repeated verbatim everywhere"
    rows = [(i, boiler) for i in range(30)]                  # 30 > cap 10
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows += [(100, base), (101, base + " lambda"),           # near-dup pair
             (200, "completely standalone document with its own words")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in
            dedup.dedup_near(docs, threshold=0.6, max_shingle_df=10).collect()}
    assert kept == {0, 100, 200}


def test_dedup_cap_report_warns_on_tripped_caps(spark):
    """ADVICE r5 (no-silent-caps): a dedup_near run whose skew caps
    actually dropped rows must say so. cap_report hands back the two
    report DataFrames over the exact intermediates the run used;
    dedup_cap_summary collects them and warns."""
    import warnings

    # 40 distinct-but-templated docs: each repeats the same stopword
    # base (pushing those shingles over max_shingle_df=10) AND shares
    # full minhash bands by template (filling a band bucket past 3).
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base * 4) for i in range(40)]
    rows = [(i, t + f" serial {i}") for i, t in rows]
    rows += [(100, "wholly unrelated standalone document body here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    rep: dict = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.dedup_near(docs, threshold=0.9, max_shingle_df=10,
                         max_bucket_size=3, cap_report=rep).count()
        summary = dedup.dedup_cap_summary(rep)
    assert rep["shingle_df_stats"] is not None
    assert rep["band_bucket_stats"] is not None
    assert summary["shingle_rows_dropped"] > 0
    assert summary["n_buckets_hot_rows_dropped"] > 0
    assert summary["max_df"] >= 40 and summary["max_bucket"] > 3
    assert any("dedup skew caps dropped rows" in str(w.message)
               for w in caught)

    # clean corpus: report present, zero drops, no warning
    clean = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    rep2: dict = {}
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        dedup.dedup_near(clean, cap_report=rep2).count()
        s2 = dedup.dedup_cap_summary(rep2)
    assert s2["shingle_rows_dropped"] == 0
    assert s2["n_buckets_hot_rows_dropped"] == 0
    assert not any("dedup skew caps" in str(w.message) for w in caught2)


def test_bucket_cap_is_antijoin_not_window(spark):
    """r6 skew redesign: the (band,bucket) cap must never funnel a
    mega-bucket through one window partition — the candidate plans
    (minhash, simhash, embedding LSH) contain a broadcast left-anti
    join and NO Window node."""
    from ocr_agent_spark.functions import similarity
    from plan_inspect import executed_plan_str

    docs = spark.createDataFrame(
        [(i, f"document body number {i} with shared template words")
         for i in range(20)],
        "doc_id long, text string",
    )
    for cand in (
        dedup.minhash_lsh_candidates(docs, max_bucket_size=5),
        dedup.simhash_near_duplicates(docs, max_bucket_size=5),
    ):
        plan = executed_plan_str(cand)
        assert "Window" not in plan
        assert "LeftAnti" in plan and "Broadcast" in plan

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    plan = executed_plan_str(
        similarity.embedding_lsh_candidates(vecs, max_bucket_size=5)
    )
    assert "Window" not in plan
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_simhash_exact_pairs_and_collapse(spark):
    docs = spark.createDataFrame(
        [(5, "shared template body text"), (2, "shared template body text"),
         (9, "shared template body text"),
         (7, "a different document entirely")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.simhash_exact_pairs(docs).collect()}
    assert pairs == {(2, 5), (2, 9)}
    kept = {r["doc_id"] for r in dedup.simhash_exact_collapse(docs).collect()}
    assert kept == {2, 7}


def test_dedup_near_overcap_fallback_collapses_template_cluster(spark):
    """ADVICE r5: a NEAR-identical template cluster bigger than the
    banding bucket cap must not be silently retained — the over-cap
    members route through the exact-simhash fallback and collapse.
    With the fallback off, the old silent-retention behavior is
    reproduced (every copy kept)."""
    boiler = ("shared boilerplate template body with very many common "
              "tokens repeated across every generated page variant ") * 4
    rows = [(i, boiler + f"serial{i}") for i in range(30)]  # distinct texts
    rows += [(500, "standalone document about something else wholly")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # sanity: the template copies share one simhash (huge shared mass)
    sigs = {r["simhash"] for r in dedup.simhash_signatures(
        docs.filter(F.col("doc_id") < 30)).collect()}
    assert len(sigs) == 1

    kw = dict(threshold=0.9, max_shingle_df=None, max_bucket_size=5)
    kept_fb = {r["doc_id"] for r in
               dedup.dedup_near(docs, **kw).collect()}
    assert kept_fb == {0, 500}
    kept_nofb = {r["doc_id"] for r in
                 dedup.dedup_near(docs, overcap_fallback=False,
                                  **kw).collect()}
    assert set(range(30)) <= kept_nofb  # silently retained without it


def test_dedup_near_fallback_inert_without_cap_trips(spark, docs):
    a = {r["doc_id"] for r in
         dedup.dedup_near(docs, threshold=0.6).collect()}
    b = {r["doc_id"] for r in
         dedup.dedup_near(docs, threshold=0.6,
                          overcap_fallback=False).collect()}
    assert a == b


def test_dedup_paragraphs_cross_document(spark):
    """Boilerplate paragraphs survive only at their first (doc, idx)
    occurrence; documents reassemble in order; empty docs drop."""
    footer = "subscribe to our newsletter for updates"
    rows = [
        (0, f"unique intro zero\n\n{footer}\n\nunique body zero"),
        (1, f"{footer}\n\nunique body one"),
        (2, footer),                       # nothing else → dropped
        (3, "standalone document three"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in dedup.dedup_paragraphs(docs).collect()}
    assert got[0] == f"unique intro zero\n\n{footer}\n\nunique body zero"
    assert got[1] == "unique body one"
    assert 2 not in got
    assert got[3] == "standalone document three"
    # idempotent: running again changes nothing
    again = {r["doc_id"]: r["text"]
             for r in dedup.dedup_paragraphs(
                 dedup.dedup_paragraphs(docs)).collect()}
    assert again == got


def test_dedup_paragraphs_within_document(spark):
    """A paragraph repeated INSIDE one document keeps only its first
    occurrence too (same first-occurrence rule)."""
    docs = spark.createDataFrame(
        [(0, "alpha beta\n\ngamma delta\n\nalpha beta")],
        "doc_id long, text string",
    )
    got = dedup.dedup_paragraphs(docs).collect()[0]["text"]
    assert got == "alpha beta\n\ngamma delta"


# -- similarity ------------------------------------------------------------


@pytest.fixture(scope="module")
def embeddings(spark):
    import random

    rows = []
    for i in range(200):
        rng = random.Random(f"emb:{i}")
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)], i % 3))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).persist()


def test_cosine_topk_matches_python_bruteforce(spark, embeddings):
    import math
    import random

    rng = random.Random("emb:0")
    query = [rng.uniform(-1, 1) for _ in range(16)]

    rows = embeddings.collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    expected = sorted(
        ((round(cos(r["embedding"], query), 6), r["vec_id"]) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = similarity.cosine_topk(embeddings, query, k=5).collect()
    assert [(r["cosine"], r["neighbor_id"]) for r in got] == [
        (pytest.approx(c, abs=2e-6), i) for c, i in expected
    ]
    assert got[0]["neighbor_id"] == 0  # the query IS vector 0


def test_lsh_topk_recall(spark, embeddings):
    import random

    rng = random.Random("emb:7")
    query = [rng.uniform(-1, 1) for _ in range(16)]
    exact = [r["neighbor_id"] for r in similarity.cosine_topk(embeddings, query, k=5).collect()]
    approx = [r["neighbor_id"] for r in similarity.lsh_cosine_topk(embeddings, query, k=5).collect()]
    # multiprobe LSH must at least find the identical vector + decent recall
    assert 7 in approx
    assert len(set(exact) & set(approx)) >= 2


def test_ivf_topk_recall(spark, embeddings):
    import random

    rng = random.Random("emb:3")
    query = [rng.uniform(-1, 1) for _ in range(16)]
    exact = [r["neighbor_id"] for r in similarity.cosine_topk(embeddings, query, k=5).collect()]
    approx = [
        r["neighbor_id"]
        for r in similarity.ivf_cosine_topk(
            embeddings, query, k=5, n_clusters=8, n_probe=3
        ).collect()
    ]
    assert 3 in approx  # the identical vector is found
    assert len(set(exact) & set(approx)) >= 3  # decent recall at 3/8 probes
    # determinism: same call → same result
    again = [
        r["neighbor_id"]
        for r in similarity.ivf_cosine_topk(
            embeddings, query, k=5, n_clusters=8, n_probe=3
        ).collect()
    ]
    assert approx == again


def test_embedding_near_duplicates(spark, embeddings):
    # Plant an exact duplicate pair.
    dup = embeddings.limit(1).withColumn("vec_id", F.lit(999).cast("long"))
    with_dup = embeddings.unionByName(dup)
    pairs = similarity.embedding_near_duplicates(with_dup, threshold=0.999).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(0, 999)}


def test_embedding_lsh_recall_vs_exact(spark):
    # Planted perturbed near-dups (cosine ~0.97-0.99): the banded LSH
    # variant must recover >=0.9 of what the exact O(N^2) baseline finds.
    import random

    rows = []
    for i in range(150):
        rng = random.Random(f"base:{i}")
        v = [rng.uniform(-1, 1) for _ in range(32)]
        rows.append((i, v))
        if i < 40:  # 40 planted near-duplicates with small angular noise
            nz = random.Random(f"noise:{i}")
            rows.append((1000 + i, [x + nz.uniform(-0.08, 0.08) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates_exact(emb, threshold=0.95).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(emb, threshold=0.95).collect()
    }
    assert len(exact) >= 30  # the plant worked
    assert approx <= exact  # verify stage admits no false positives
    assert len(approx & exact) / len(exact) >= 0.9


def test_embedding_lsh_bucket_cap(spark):
    # A degenerate direction shared by many vectors: with the cap below
    # the cluster size, that bucket contributes no candidate pairs (the
    # hard cost ceiling); stats report the drop so it is not silent.
    rows = [(i, [1.0] * 16) for i in range(50)] + [
        (100 + i, [(-1.0) ** j * (1.0 + 0.01 * i) for j in range(16)])
        for i in range(5)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = similarity.embedding_near_duplicates(
        emb, threshold=0.99, max_bucket_size=10
    ).collect()
    ids_in_big_cluster = {i for i in range(50)}
    assert not any(
        p["id_a"] in ids_in_big_cluster and p["id_b"] in ids_in_big_cluster
        for p in capped
    )
    stats = similarity.embedding_lsh_bucket_stats(emb, max_bucket_size=10).collect()
    assert all(r["rows_dropped_by_cap"] >= 50 for r in stats)
    # with a cap that fits, the cluster's pairs come back
    uncapped = similarity.embedding_near_duplicates(
        emb, threshold=0.99, max_bucket_size=1000
    ).count()
    assert uncapped >= 50 * 49 / 2


def test_ivf_sample_not_id_biased(spark):
    # Id-sorted topic-clustered fixture: ids 0..149 point one way, ids
    # 150..299 the other. A first-N-by-id quantizer sample would never
    # see cluster B; the hash-ordered sample must, so a query near
    # cluster B finds its true neighbors.
    import random

    rows = []
    for i in range(300):
        rng = random.Random(f"ivfbias:{i}")
        base = [1.0] * 8 + [0.0] * 8 if i < 150 else [0.0] * 8 + [1.0] * 8
        rows.append((i, [b + rng.uniform(-0.05, 0.05) for b in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [0.0] * 8 + [1.0] * 8  # cluster B centroid

    exact = [r["neighbor_id"] for r in similarity.cosine_topk(emb, query, k=5).collect()]
    approx = [
        r["neighbor_id"]
        for r in similarity.ivf_cosine_topk(
            emb, query, k=5, n_clusters=4, n_probe=1, sample_size=64
        ).collect()
    ]
    assert len(set(exact) & set(approx)) >= 4


def test_text_profile_equals_column_forms(spark):
    """The projected fast path must be value-identical to the composable
    Column builders for every signal, including edge rows."""
    from ocr_agent_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox and the lazy dog for it is that"),
            (1, ""),
            (2, "   "),
            (3, "der hund und die katze ist nicht ein vogel mit auf"),
            (4, "x"),
            (5, "no wa ni wo ga de to mo desu masu !!! 123"),
            (6, "a" * 500),
        ],
        "doc_id long, text string",
    )
    expected = docs.select(
        "doc_id",
        T.lang_id("text").alias("predicted_lang"),
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        T.char_count("text").alias("n_chars"),
        T.quality_score("text").alias("quality"),
    ).collect()
    got = {
        r["doc_id"]: r
        for r in T.text_profile(docs).select(
            "doc_id", "predicted_lang", "n_tokens", "n_bpe_tokens",
            "n_chars", "quality",
        ).collect()
    }
    for e in expected:
        g = got[e["doc_id"]]
        for f in ("predicted_lang", "n_tokens", "n_bpe_tokens", "n_chars", "quality"):
            assert g[f] == e[f], (e["doc_id"], f, g[f], e[f])


def test_normalize_result_column_matches_reference(spark):
    """F15 differential vs the reference's _normalize_infer_result_to_
    markdown (runner dict-key probing) on map-shaped results."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    try:
        import importlib

        ref_mod = importlib.import_module("ocr_agent.deepseek_ocr2_runner")
        ref = ref_mod._normalize_infer_result_to_markdown
    except Exception:
        ref = None  # reference runner imports torch; fall back to spec
    finally:
        sys.path.remove("/root/reference/src")

    from ocr_agent_spark.functions.text import normalize_result_column

    cases = [
        {"markdown": "MD"},
        {"text": "TX"},
        {"response": "RS"},
        {"markdown": "MD", "response": "RS"},
        {"output": "OP", "result": "RE"},
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i int, m map<string,string>")
    got = {
        r["i"]: r["out"]
        for r in df.select("i", normalize_result_column(F.col("m")).alias("out")).collect()
    }
    expected = ["MD", "TX", "RS", "MD", "RE"]
    assert [got[i] for i in range(len(cases))] == expected
    if ref is not None:
        assert [ref(c) for c in cases] == expected
    # fallback: no known key → rendered map (str(dict) analogue)
    fb = spark.createDataFrame([({"weird": "x"},)], "m map<string,string>")
    out = fb.select(normalize_result_column(F.col("m")).alias("o")).first()["o"]
    assert "weird" in out and "x" in out


# -- multimodal ------------------------------------------------------------


def test_multimodal_plumbing(spark):
    media = multimodal.fake_media_table(spark, n=30)
    feats = multimodal.extract_media_features(media, decode_backend="fake")
    rows = feats.collect()
    assert len(rows) == 30
    assert all(r["status"] == "completed" for r in rows)
    assert all(len(r["feature"]) == 16 for r in rows)
    # determinism: same payload → same features
    again = {r["media_id"]: r["feature"] for r in
             multimodal.extract_media_features(media, decode_backend="fake").collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_multimodal_headers_decodes_real_dimensions(spark):
    media = multimodal.fake_media_table(spark, n=24)
    feats = multimodal.extract_media_features(media, decode_backend="headers")
    rows = {r["media_id"]: r for r in feats.collect()}
    meta = {r["media_id"]: r for r in media.collect()}
    images = [i for i, m in meta.items() if m["kind"] == "image"]
    assert images
    formats = set()
    for i in images:
        r = rows[i]
        assert r["status"] == "completed"
        # decoded-from-bytes dims must equal the fixture's declared dims
        assert (r["src_width"], r["src_height"]) == (
            meta[i]["width"], meta[i]["height"]
        ), (i, r["format"])
        formats.add(r["format"])
    assert formats == {"png", "jpeg", "gif", "bmp", "tiff"}
    # audio/video fixture payloads are real WAV/AVI containers → real
    # container formats; AVI dims come from an actual header parse
    for i, m in meta.items():
        if m["kind"] == "audio":
            assert rows[i]["format"] == "wav"
            assert rows[i]["status"] == "completed"
        elif m["kind"] == "video":
            assert rows[i]["format"] == "avi"
            assert rows[i]["status"] == "completed"
            assert (rows[i]["src_width"], rows[i]["src_height"]) == (
                m["width"], m["height"]
            ), i


def test_multimodal_feature_source_column(spark):
    """100 TB consumers filter fake-feature rows on feature_source, not
    format internals: PNG/GIF/BMP/JPEG (baseline + progressive), WAV
    PCM/float audio and uncompressed AVI video decode for real;
    arithmetic-coded JPEG (needs PIL), compressed audio (mp3/ogg) and
    compressed video (MJPG/H.264) are deterministic stand-ins (need
    ffmpeg); failures null."""
    import struct

    from ocr_agent_spark.kernel.avivideo import build_avi
    from ocr_agent_spark.kernel.jpegdecode import build_jpeg

    from ocr_agent_spark.kernel.mediacontainer import build_mp3

    arith = bytearray(build_jpeg(16, 16, seed=1))
    sof = arith.index(b"\xff\xc0")
    arith[sof + 1] = 0xC9  # rewrite SOF0 -> SOF9 (arithmetic sequential)
    mjpg = bytearray(build_avi(seed=2))
    strf = bytes(mjpg).index(struct.pack("<Iiih", 40, 32, 24, 1))
    struct.pack_into("<4s", mjpg, strf + 16, b"MJPG")  # biCompression
    media = multimodal.fake_media_table(spark, n=24).unionByName(
        spark.createDataFrame(
            [
                (900, "image", b"corrupt bytes", "image/x", 9, 9, None),
                (901, "image", bytes(arith), "image/jpeg", 16, 16, None),
                (902, "audio", build_mp3(duration_ms=1000), "audio/mpeg",
                 None, None, 1000),
                (903, "video", bytes(mjpg), "video/x-msvideo",
                 32, 24, 1200),
            ],
            schema=multimodal.MEDIA_SCHEMA,
        )
    )
    rows = {r["media_id"]: r for r in
            multimodal.extract_media_features(media, decode_backend="headers").collect()}
    assert rows[900]["feature_source"] is None  # failure row
    assert rows[901]["status"] == "completed"
    assert rows[901]["feature_source"] == "fake"  # arithmetic → stand-in
    assert rows[902]["feature_source"] == "header"  # real mp3 metadata,
    assert rows[902]["status"] == "completed"       # fake sample features
    assert rows[903]["feature_source"] == "fake"  # MJPG codec → stand-in
    assert rows[903]["status"] == "completed"
    for i, r in rows.items():
        if i >= 900:
            continue
        assert r["format"] in ("png", "gif", "bmp", "jpeg", "tiff", "wav", "avi"), i
        assert r["feature_source"] == "real", (i, r["format"])
    assert {r["feature_source"] for r in rows.values()} == {
        "real", "fake", "header", None}
    # the fake backend never claims real features
    fake_rows = multimodal.extract_media_features(
        media.filter("media_id < 24"), decode_backend="fake"
    ).collect()
    assert {r["feature_source"] for r in fake_rows} == {"fake"}


def test_multimodal_headers_rejects_malformed_image(spark):
    media = spark.createDataFrame(
        [(0, "image", b"this is not an image", "image/x", 10, 10, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_media_features(media, decode_backend="headers").collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "failed"
    assert "ImageFormatError" in rows[0]["error"]


def test_imagemeta_kernel_roundtrip():
    from ocr_agent_spark.kernel import imagemeta as im

    assert im.parse_image_dimensions(im.build_png(31, 17)) == ("png", 31, 17)
    assert im.parse_image_dimensions(im.build_jpeg_header(641, 480)) == (
        "jpeg", 641, 480
    )
    assert im.parse_image_dimensions(im.build_gif_header(12, 34)) == ("gif", 12, 34)
    assert im.parse_image_dimensions(im.build_bmp_header(100, 200)) == (
        "bmp", 100, 200
    )
    import pytest as _pytest

    with _pytest.raises(im.ImageFormatError):
        im.parse_image_dimensions(b"garbage")
    with _pytest.raises(im.ImageFormatError):
        im.parse_image_dimensions(im.build_png(31, 17)[:12])  # truncated


def test_png_pixel_decode_all_filters_and_color_types():
    """decode_png_luminance inverts every PNG row filter (0-4) for every
    supported color type: the luminance plane must equal the known
    (seed + i) % 256 ramp regardless of how the encoder filtered it."""
    from ocr_agent_spark.kernel import imagemeta as im

    expected = bytes((7 + i) % 256 for i in range(23 * 9))
    for color_type in (0, 2, 4, 6):
        for ftype in range(5):
            png = im.build_png(23, 9, seed=7, filter_type=ftype,
                               color_type=color_type)
            w, h, lum = im.decode_png_luminance(png)
            assert (w, h) == (23, 9)
            assert bytes(lum) == expected, (color_type, ftype)


def test_png_luminance_histogram_known_values():
    from ocr_agent_spark.kernel import imagemeta as im

    # 16x16 ramp hits every luminance 0..255 exactly once → uniform
    assert im.png_luminance_histogram(im.build_png(16, 16)) == [1 / 16] * 16
    # constant-black 8x4 image (seed picks the ramp start; width*height
    # wraps) — build a 1x1 seed=0 image: single pixel 0 → all mass in bin 0
    h = im.png_luminance_histogram(im.build_png(1, 1, seed=0))
    assert h[0] == 1.0 and sum(h) == 1.0
    # seed=255 single pixel → top bin
    h = im.png_luminance_histogram(im.build_png(1, 1, seed=255))
    assert h[15] == 1.0

    import pytest as _pytest

    with _pytest.raises(im.ImageFormatError):
        im.decode_png_luminance(b"not a png")
    # corrupt IDAT must reject, not crash
    png = bytearray(im.build_png(8, 8))
    png[-20] ^= 0xFF
    with _pytest.raises(im.ImageFormatError):
        im.decode_png_luminance(bytes(png))


def test_multimodal_headers_png_feature_is_real_histogram(spark):
    """The headers backend's PNG feature vector is the actual pixel
    luminance histogram (VERDICT r2 item 8), not a payload-hash fake."""
    from ocr_agent_spark.kernel import imagemeta as im

    png = im.build_png(16, 16, seed=0, filter_type=4)  # Paeth-filtered
    media = spark.createDataFrame(
        [(0, "image", png, "image/png", 16, 16, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_media_features(media, decode_backend="headers").collect()
    assert rows[0]["status"] == "completed"
    # a 16x16 uniform ramp stays uniform through the REAL
    # nearest-neighbor resize to the 64x64 target (each pixel
    # replicated 16x), and out dims report what was computed
    assert rows[0]["feature"] == [pytest.approx(1 / 16)] * 16
    assert (rows[0]["out_width"], rows[0]["out_height"]) == (64, 64)
    assert (rows[0]["src_width"], rows[0]["src_height"]) == (16, 16)


def test_multimodal_headers_every_legal_png_decodes_for_real(spark):
    """Every legal PNG shape decodes for real (palette via PLTE,
    sub-byte via bit unpacking); only corrupt payloads become failure
    rows. (The UnsupportedImageError→fake-fallback path remains for
    future scope limits but no legal PNG triggers it today.)"""
    import struct
    import zlib

    from ocr_agent_spark.kernel import imagemeta as im

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    # palette PNG: 1 white pixel via PLTE index 0 → top luminance bin
    palette_png = (
        im.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", b"\xff\xff\xff")
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    # 1-bit gray PNG: single black pixel — decodes for real now
    png_i = (
        im.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 1, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    # corrupt PNG: valid header, garbage IDAT
    corrupt = bytearray(im.build_png(8, 8))
    corrupt[-20] ^= 0xFF

    media = spark.createDataFrame(
        [(0, "image", palette_png, "image/png", 1, 1, None),
         (1, "image", bytes(corrupt), "image/png", 8, 8, None),
         (2, "image", png_i, "image/png", 1, 1, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            multimodal.extract_media_features(media, decode_backend="headers").collect()}
    assert rows[0]["status"] == "completed"          # palette → REAL decode
    assert rows[0]["feature"][15] == pytest.approx(1.0)  # white pixel
    assert rows[1]["status"] == "failed"             # corrupt → failure row
    assert "ImageFormatError" in rows[1]["error"]
    assert rows[2]["status"] == "completed"          # 1-bit → REAL decode
    assert rows[2]["feature"][0] == pytest.approx(1.0)  # black pixel


def test_png_histogram_arbitrary_bins_and_zero_pixels():
    from ocr_agent_spark.kernel import imagemeta as im

    # bins that don't divide 256 must not IndexError and must sum to 1
    h = im.png_luminance_histogram(im.build_png(16, 16), bins=10)
    assert len(h) == 10 and abs(sum(h) - 1.0) < 1e-9
    import pytest as _pytest

    with _pytest.raises(im.ImageFormatError):
        im.png_luminance_histogram(im.build_png(4, 4), bins=0)
    with _pytest.raises(im.ImageFormatError):
        # ILLEGAL shape per spec (16-bit palette) rejects
        import struct
        import zlib

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

        bad = (im.PNG_MAGIC
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
               + chunk(b"PLTE", b"\x00\x00\x00")
               + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
               + chunk(b"IEND", b""))
        im.decode_png_luminance(bad)

    # 16-bit gray decodes for real: high byte is the luminance
    import struct
    import zlib

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    png16 = (im.PNG_MAGIC
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(b"\x00\xfa\x77"))
             + chunk(b"IEND", b""))
    w16, h16, lum16 = im.decode_png_luminance(png16)
    assert (w16, h16, list(lum16)) == (1, 1, [0xfa])


def test_multimodal_stub_backend_fails_as_rows(spark):
    media = multimodal.fake_media_table(spark, n=6)
    rows = multimodal.extract_media_features(media, decode_backend="none").collect()
    assert len(rows) == 6
    assert all(r["status"] == "failed" for r in rows)
    assert all("NotImplementedError" in r["error"] for r in rows)


def test_ivf_persisted_index_matches_inline_and_prunes(spark, embeddings, tmp_path):
    """build_ivf_index + ivf_index_topk: identical results to the inline
    IVF (same deterministic quantizer), and the query scan PRUNES to the
    probed clusters' partition directories."""
    import os

    from plan_inspect import executed_plan_str

    qvec = [1.0 if i % 3 == 0 else (-0.5 if i % 3 == 1 else 0.25)
            for i in range(len(embeddings.first()["embedding"]))]
    idx = str(tmp_path / "ivf_idx")
    centroids = similarity.build_ivf_index(embeddings, idx, n_clusters=8,
                                           sample_size=256)
    assert len(centroids) == 8
    assert os.path.exists(os.path.join(idx, "current"))

    # rebuild is atomic: a rebuild that dies before the pointer flip
    # leaves queries on the OLD consistent version
    import json
    with open(os.path.join(idx, "current")) as fh:
        v1 = fh.read().strip()
    similarity.build_ivf_index(embeddings.limit(50), idx, n_clusters=4,
                               sample_size=64)
    with open(os.path.join(idx, "current")) as fh:
        v2 = fh.read().strip()
    assert v2 != v1
    with open(os.path.join(idx, v2, "centroids.json")) as fh:
        assert len(json.load(fh)) == 4
    # flip back to v1 (simulating "rebuild never completed"): queries
    # see the original full index again
    with open(os.path.join(idx, "current"), "w") as fh:
        fh.write(v1)

    inline = [(r["neighbor_id"], round(r["cosine"], 6)) for r in
              similarity.ivf_cosine_topk(embeddings, qvec, k=5, n_clusters=8,
                                         n_probe=3, sample_size=256).collect()]
    from_index = [(r["neighbor_id"], round(r["cosine"], 6)) for r in
                  similarity.ivf_index_topk(spark, idx, qvec, k=5,
                                            n_probe=3).collect()]
    assert from_index == inline

    # partition pruning: the scan's PartitionFilters constrain cluster_id
    q = similarity.ivf_index_topk(spark, idx, qvec, k=5, n_probe=3)
    plan = executed_plan_str(q)
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines, plan[:2000]
    assert any("cluster_id" in ln for ln in scan_lines), scan_lines
    # and only the probed cluster dirs exist in the slice it reads
    dirs = {d for d in os.listdir(os.path.join(idx, v1, "vectors"))
            if d.startswith("cluster_id=")}
    assert len(dirs) <= 8


def test_ivf_append_matches_fresh_rebuild(spark, embeddings, tmp_path):
    """append_ivf_index: new vectors become queryable with unchanged
    probe semantics; results equal a fresh rebuild on the union AND the
    exact brute-force top-k (planted-copy construction: 10 exact copies
    of the query vector score cosine 1.0, land in the query's own probe
    cluster, and fill the whole top-10 deterministically)."""
    import random

    dim = len(embeddings.first()["embedding"])
    rng = random.Random("append-query")
    qvec = [rng.uniform(-1, 1) for _ in range(dim)]
    planted = spark.createDataFrame(
        [(1000 + i, qvec, 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    union = embeddings.unionByName(planted)

    idx = str(tmp_path / "ivf_append")
    c0 = similarity.build_ivf_index(embeddings, idx, n_clusters=8,
                                    sample_size=256)
    c1 = similarity.append_ivf_index(planted, idx)
    assert c1 == c0  # append never moves the quantizer

    appended = [(r["neighbor_id"], r["cosine"]) for r in
                similarity.ivf_index_topk(spark, idx, qvec, k=10,
                                          n_probe=3).collect()]
    idx2 = str(tmp_path / "ivf_fresh")
    similarity.build_ivf_index(union, idx2, n_clusters=8, sample_size=256)
    rebuilt = [(r["neighbor_id"], r["cosine"]) for r in
               similarity.ivf_index_topk(spark, idx2, qvec, k=10,
                                         n_probe=3).collect()]
    exact = [(r["neighbor_id"], r["cosine"]) for r in
             similarity.cosine_topk(union, qvec, k=10).collect()]
    assert appended == rebuilt == exact
    assert [i for i, _ in exact] == list(range(1000, 1010))


def test_ivf_uncommitted_append_is_invisible(spark, embeddings, tmp_path):
    """Crash atomicity (code-review r5): an append directory without
    its _COMMITTED marker — a job that died mid-append — must never
    contribute rows to queries or the drift report."""
    import os
    import random

    dim = len(embeddings.first()["embedding"])
    rng = random.Random("uncommitted-q")
    qvec = [rng.uniform(-1, 1) for _ in range(dim)]
    idx = str(tmp_path / "ivf_crash")
    similarity.build_ivf_index(embeddings, idx, n_clusters=4, sample_size=256)
    planted = spark.createDataFrame(
        [(3000 + i, qvec, 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    similarity.append_ivf_index(planted, idx)
    vdir = similarity._ivf_index_dir(idx)
    adir = os.path.join(vdir, "appends")
    (committed,) = os.listdir(adir)
    # simulate the crash: marker never landed
    os.remove(os.path.join(adir, committed, "_COMMITTED"))
    got = {r["neighbor_id"] for r in
           similarity.ivf_index_topk(spark, idx, qvec, k=5, n_probe=4).collect()}
    assert not (got & {3000, 3001, 3002, 3003, 3004})
    total = sum(r["n_vectors"] for r in
                similarity.ivf_drift_report(spark, idx).collect())
    assert total == 200  # base only


def test_ivf_drift_report(spark, embeddings, tmp_path):
    """Right after a build every cluster's mean aligns with its
    centroid; appending a mass of vectors pulled toward one direction
    degrades alignment in the clusters that absorb them and flips
    rebuild_recommended."""
    import random

    dim = len(embeddings.first()["embedding"])
    idx = str(tmp_path / "ivf_drift")
    similarity.build_ivf_index(embeddings, idx, n_clusters=4, sample_size=256)

    fresh = similarity.ivf_drift_report(spark, idx, alignment_threshold=0.8)
    rows = fresh.collect()
    assert sum(r["n_vectors"] for r in rows) == 200
    populated = [r for r in rows if r["n_vectors"] > 0]
    assert populated and all(r["alignment"] > 0.8 for r in populated)
    assert not any(r["rebuild_recommended"] for r in rows)

    # drift: append 400 near-identical vectors far from any centroid's
    # build-time mean — whichever cluster absorbs them has its mean
    # dragged onto the planted direction, away from its centroid
    rng = random.Random("drift")
    direction = [1.0] * dim
    drifted = spark.createDataFrame(
        [(2000 + i, [1.0 + rng.uniform(-0.01, 0.01) for _ in range(dim)], 0)
         for i in range(400)],
        "vec_id long, embedding array<float>, label int",
    )
    similarity.append_ivf_index(drifted, idx)
    after = similarity.ivf_drift_report(spark, idx, alignment_threshold=0.8)
    flagged = [r for r in after.collect() if r["rebuild_recommended"]]
    assert flagged, "drift mass did not trigger a rebuild recommendation"


def test_png_adam7_interlaced_decodes_identically():
    """Adam7-interlaced PNGs decode to the same pixels as the
    non-interlaced encoding of the same image (per-pass unfiltering +
    scatter), across awkward sizes where passes go empty."""
    import struct
    import zlib

    from ocr_agent_spark.kernel import imagemeta as im

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    def build_interlaced(w, h, seed, color_type):
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
        raw = bytearray()
        for x0, y0, xs, ys in im._ADAM7_PASSES:
            wp = (w - x0 + xs - 1) // xs if w > x0 else 0
            hp = (h - y0 + ys - 1) // ys if h > y0 else 0
            if wp == 0 or hp == 0:
                continue
            for j in range(hp):
                raw.append(0)
                for i in range(wp):
                    v = (seed + (y0 + j * ys) * w + (x0 + i * xs)) % 256
                    raw += bytes([v] * ch)
        return (im.PNG_MAGIC
                + chunk(b"IHDR",
                        struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1))
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    for w, h in [(1, 1), (3, 2), (8, 8), (13, 7)]:
        for ct in (0, 2, 4, 6):
            plain = im.decode_png_luminance(im.build_png(w, h, seed=3,
                                                         color_type=ct))[2]
            inter = im.decode_png_luminance(build_interlaced(w, h, 3, ct))[2]
            assert bytes(plain) == bytes(inter), (w, h, ct)
    # truncated interlaced stream rejects
    import pytest as _pytest

    bad = (im.PNG_MAGIC
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1))
           + chunk(b"IDAT", zlib.compress(b"\x00\x01"))
           + chunk(b"IEND", b""))
    with _pytest.raises(im.ImageFormatError):
        im.decode_png_luminance(bad)


def test_png_subbyte_depths_decode():
    """1/2/4-bit gray and sub-byte palette PNGs decode with MSB-first
    unpacking and 8-bit scaling."""
    import struct
    import zlib

    from ocr_agent_spark.kernel import imagemeta as im

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    def build(w, h, depth, values, color_type=0, plte=b""):
        spp = 8 // depth
        stride = (w * depth + 7) // 8
        raw = bytearray()
        for y in range(h):
            raw.append(0)
            rowbytes = bytearray(stride)
            for x in range(w):
                shift = 8 - depth * (x % spp + 1)
                rowbytes[x // spp] |= values[y * w + x] << shift
            raw += rowbytes
        png = im.PNG_MAGIC + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0))
        if plte:
            png += chunk(b"PLTE", plte)
        return png + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")

    vals = [(x + y) % 2 for y in range(2) for x in range(5)]
    assert list(im.decode_png_luminance(build(5, 2, 1, vals))[2]) == \
        [v * 255 for v in vals]
    vals = [x % 4 for x in range(6)]
    assert list(im.decode_png_luminance(build(6, 1, 2, vals))[2]) == \
        [v * 85 for v in vals]
    plte = b"\x00\x00\x00\xff\xff\xff\xff\x00\x00"
    assert list(im.decode_png_luminance(
        build(5, 1, 4, [0, 1, 2, 1, 0], color_type=3, plte=plte))[2]) == \
        [0, 255, 76, 255, 0]


def test_multimodal_headers_bmp_feature_is_real_histogram(spark):
    """BMPs decode for real through the dispatching histogram; a
    spec-INVALID header combination (RLE8 declared on a 24-bit image)
    is a malformed payload → failure row (D2), not a silent fake."""
    import struct

    # 2x1 24-bit: one black, one white pixel (bottom-up single row)
    w, h = 2, 1
    row = bytes([0, 0, 0, 255, 255, 255]) + b"\x00\x00"  # pad to 8
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(row), 0, 0, 0, 0)
    bmp = b"BM" + struct.pack("<IHHI", 54 + len(row), 0, 0, 54) + info + row
    # same but compression=1 (RLE8) on 24-bit: invalid per spec
    info_rle = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 1, len(row), 0, 0, 0, 0)
    bmp_rle = b"BM" + struct.pack("<IHHI", 54 + len(row), 0, 0, 54) + info_rle + row

    media = spark.createDataFrame(
        [(0, "image", bmp, "image/bmp", 2, 1, None),
         (1, "image", bmp_rle, "image/bmp", 2, 1, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            multimodal.extract_media_features(media, decode_backend="headers").collect()}
    assert rows[0]["status"] == "completed"
    assert rows[0]["feature"][0] == pytest.approx(0.5)   # black pixel
    assert rows[0]["feature"][15] == pytest.approx(0.5)  # white pixel
    assert rows[1]["status"] == "failed"                 # invalid combo
    assert "ImageFormatError" in rows[1]["error"]


def test_gif_pixel_decode_roundtrip_and_multimodal():
    """GIF decodes for real: pure-Python LZW over sub-blocks, local or
    global color table, 4-pass interlace."""
    from ocr_agent_spark.kernel import imagemeta as im

    exp = bytes((9 + i) % 256 for i in range(13 * 7))
    for interlace in (False, True):
        w, h, lum = im.decode_gif_luminance(
            im.build_gif(13, 7, seed=9, interlace=interlace))
        assert (w, h) == (13, 7)
        assert bytes(lum) == exp, interlace
    import pytest as _pytest

    with _pytest.raises(im.ImageFormatError):
        im.decode_gif_luminance(b"GIF89a" + b"\x00" * 7)  # no frame
    # descriptor claims 100x100 but the LZW stream holds 64 pixels
    bad = bytearray(im.build_gif(8, 8))
    desc = 6 + 7 + 768  # header + LSD + 256-entry GCT → 0x2C descriptor
    assert bad[desc] == 0x2C
    bad[desc + 5:desc + 9] = (100).to_bytes(2, "little") * 2
    with _pytest.raises(im.ImageFormatError):
        im.decode_gif_luminance(bytes(bad))


def test_multimodal_headers_gif_feature_is_real_histogram(spark):
    from ocr_agent_spark.kernel import imagemeta as im

    gif = im.build_gif(16, 16, seed=0)  # full 0..255 ramp → uniform
    media = spark.createDataFrame(
        [(0, "image", gif, "image/gif", 16, 16, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_media_features(media, decode_backend="headers").collect()
    assert rows[0]["status"] == "completed"
    assert rows[0]["feature"] == [pytest.approx(1 / 16)] * 16


def test_png_subbyte_adam7_and_bomb_guards():
    """code-review r3b: interlaced sub-byte PNGs use packed-bit pass
    strides and sample-wise scatter; declared-size bombs reject in O(1)
    for both PNG and GIF."""
    import struct
    import zlib

    from ocr_agent_spark.kernel import imagemeta as im

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    def build_subbyte_interlaced(w, h, depth, values):
        spp = 8 // depth
        raw = bytearray()
        for x0, y0, xs, ys in im._ADAM7_PASSES:
            wp = (w - x0 + xs - 1) // xs if w > x0 else 0
            hp = (h - y0 + ys - 1) // ys if h > y0 else 0
            if wp == 0 or hp == 0:
                continue
            pstride = (wp * depth + 7) // 8
            for j in range(hp):
                raw.append(0)
                rowbytes = bytearray(pstride)
                for i in range(wp):
                    v = values[(y0 + j * ys) * w + (x0 + i * xs)]
                    shift = 8 - depth * (i % spp + 1)
                    rowbytes[i // spp] |= v << shift
                raw += rowbytes
        return (im.PNG_MAGIC
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 1))
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    for depth in (1, 2, 4):
        mask = (1 << depth) - 1
        for w, h in [(1, 1), (16, 16), (13, 7)]:
            vals = [(x + y) & mask for y in range(h) for x in range(w)]
            _, _, lum = im.decode_png_luminance(
                build_subbyte_interlaced(w, h, depth, vals))
            assert list(lum) == [v * (255 // mask) for v in vals], (depth, w, h)

    import time

    import pytest as _pytest

    png_bomb = (im.PNG_MAGIC
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
                + chunk(b"IEND", b""))
    t0 = time.monotonic()
    with _pytest.raises(im.ImageFormatError, match="exceeds"):
        im.decode_png_luminance(png_bomb)
    assert time.monotonic() - t0 < 1.0

    gif_bomb = bytearray(im.build_gif(4, 4))
    desc = 6 + 7 + 768
    gif_bomb[desc + 5:desc + 9] = (60000).to_bytes(2, "little") * 2
    t0 = time.monotonic()
    with _pytest.raises(im.ImageFormatError, match="exceeds"):
        im.decode_gif_luminance(bytes(gif_bomb))
    assert time.monotonic() - t0 < 1.0

    # truncated BMP header rejects as ImageFormatError, not struct.error
    bm44 = im.build_bmp(4, 4)[:44]
    with _pytest.raises(im.ImageFormatError):
        im.decode_bmp_luminance(bm44)


def test_gif_bomb_bound_admits_max_lzw_ratio_and_bmp_core_header_unsupported():
    """ADVICE r4 fixes. (1) Real GIF LZW with deferred clear codes
    sustains 4096 px per 12-bit code ≈ 2731 px/byte — a declared size
    between the old 2521×  bound and the corrected 2731×+slack bound
    must pass the bomb guard (failing later as genuinely truncated),
    not be pre-rejected as a bomb. (2) An OS/2 BITMAPCOREHEADER BMP is
    valid-but-unsupported (→ fake-feature fallback), and must not have
    its fields parsed at BITMAPINFOHEADER offsets first."""
    import struct as _struct

    import pytest as _pytest

    from ocr_agent_spark.kernel import imagemeta as im

    gif = bytearray(im.build_gif(16, 16, seed=3))
    desc = 6 + 7 + 768  # header + LSD + GCT (build_gif layout)
    # walk the sub-blocks to learn the actual LZW byte count
    pos = desc + 10 + 1  # image descriptor + min-code-size byte
    lzw_len = 0
    while gif[pos] != 0:
        lzw_len += gif[pos]
        pos += 1 + gif[pos]
    assert lzw_len > 0
    # declared pixels in (old bound, new bound]: old guard rejected this
    target = lzw_len * 2600 + 2048
    fw, fh = 1000, target // 1000
    assert lzw_len * 2521 < fw * fh <= lzw_len * 2731 + 4096
    gif[desc + 5:desc + 7] = fw.to_bytes(2, "little")
    gif[desc + 7:desc + 9] = fh.to_bytes(2, "little")
    with _pytest.raises(im.ImageFormatError, match="truncated"):
        im.decode_gif_luminance(bytes(gif))  # reaches the decoder now
    # far beyond the corrected bound still pre-rejects as a bomb
    gif[desc + 5:desc + 9] = (60000).to_bytes(2, "little") * 2
    with _pytest.raises(im.ImageFormatError, match="exceeds"):
        im.decode_gif_luminance(bytes(gif))

    core_bmp = (
        b"BM" + _struct.pack("<IHHI", 26, 0, 0, 26)
        + _struct.pack("<IHHHH", 12, 4, 4, 1, 24)
    )
    with _pytest.raises(im.UnsupportedImageError, match="variant"):
        im.decode_bmp_luminance(core_bmp)


def test_gif_lzw_differential_with_real_compressor():
    """_gif_lzw_decode against an independent table-growing LZW
    compressor (dictionary growth, width increases, KwKwK sequences,
    12-bit cap + mid-stream clear) — build_gif's literal-only encoding
    never exercises those decoder paths."""
    import random

    from ocr_agent_spark.kernel.imagemeta import _gif_lzw_decode

    def lzw_compress(data: bytes, mcs: int) -> bytes:
        clear, end = 1 << mcs, (1 << mcs) + 1
        out_bits = []

        def emit(code, width):
            out_bits.append((code, width))

        table = {bytes([i]): i for i in range(clear)}
        next_code, width = end + 1, mcs + 1
        emit(clear, width)
        w = b""
        for ch in data:
            wc = w + bytes([ch])
            if wc in table:
                w = wc
                continue
            emit(table[w], width)
            if next_code < 4096:
                # giflib ordering: test BEFORE the add — the code about
                # to be assigned must fit the CURRENT width; the width
                # bump takes effect for the next emitted code.
                if next_code >= (1 << width) and width < 12:
                    width += 1
                table[wc] = next_code
                next_code += 1
            else:  # table full: clear and restart (exercises mid-stream reset)
                emit(clear, width)
                table = {bytes([i]): i for i in range(clear)}
                next_code, width = end + 1, mcs + 1
            w = bytes([ch])
        if w:
            emit(table[w], width)
        emit(end, width)

        acc = bits = 0
        packed = bytearray()
        for code, wd in out_bits:
            acc |= code << bits
            bits += wd
            while bits >= 8:
                packed.append(acc & 0xFF)
                acc >>= 8
                bits -= 8
        if bits:
            packed.append(acc & 0xFF)
        return bytes(packed)

    rng = random.Random("lzw-diff")
    cases = [
        b"",
        b"\x00" * 5000,                                   # KwKwK-heavy
        bytes(rng.randrange(4) for _ in range(3000)),     # small alphabet
        bytes(rng.randrange(256) for _ in range(8000)),   # fills the table
        b"abababababab" * 400,
    ]
    for mcs in (2, 4, 8):
        alphabet = 1 << mcs
        for data in cases:
            clipped = bytes(b % alphabet for b in data)
            packed = lzw_compress(clipped, mcs)
            got = _gif_lzw_decode(packed, mcs, len(clipped))
            assert bytes(got) == clipped, (mcs, len(clipped))


def test_multimodal_headers_no_failures_at_volume(spark):
    """120 mixed media items (all four image containers, real WAV
    audio across every PCM/float shape, real AVI video) through the
    headers backend: zero failure rows, every decode REAL, and every
    L1-normalized feature vector sums to 1."""
    media = multimodal.fake_media_table(spark, n=120)
    rows = multimodal.extract_media_features(media, decode_backend="headers").collect()
    assert len(rows) == 120
    bad = [r for r in rows if r["status"] != "completed"]
    assert not bad, [(r["media_id"], r["error"]) for r in bad[:3]]
    fmt_seen = set()
    for r in rows:
        if r["format"] in ("png", "gif", "bmp", "tiff", "wav", "avi"):
            fmt_seen.add(r["format"])
            assert sum(r["feature"]) == pytest.approx(1.0, abs=1e-6), r["media_id"]
    assert fmt_seen == {"png", "gif", "bmp", "tiff", "wav", "avi"}
    assert all(r["feature_source"] == "real" for r in rows)


def test_gif_decode_real_world_files():
    """Ground truth: GIFs produced by real encoders (idlelib's icons,
    shipped with CPython) must decode — this is the test that catches a
    width-growth desync that a same-author encoder/decoder pair can
    mirror-hide (code-review r3c)."""
    import glob

    from ocr_agent_spark.kernel.imagemeta import decode_gif_luminance

    gifs = sorted(glob.glob(
        "/root/.pyenv/versions/*/lib/python*/idlelib/Icons/*.gif"
    ))
    if not gifs:
        pytest.skip("no real-world GIFs available on this host")
    for path in gifs:
        with open(path, "rb") as fh:
            data = fh.read()
        w, h, lum = decode_gif_luminance(data)
        assert w > 0 and h > 0 and len(lum) == w * h, path


def test_image_decode_real_world_corpus():
    """Ground truth: a deterministic sample (sorted order, first N) of
    the real PNG/GIF/BMP files shipped with this host's system packages
    and Python installs must decode — these were produced by real
    encoders, the check a same-author fixture encoder cannot
    mirror-hide from. (A sample, not 'every file on the host': the cap
    is declared here, not silent.)"""
    import glob

    from ocr_agent_spark.kernel import imagemeta as im

    pngs = (sorted(glob.glob("/usr/share/**/*.png", recursive=True))[:150]
            + sorted(glob.glob("/root/.pyenv/versions/3.11*/lib/**/*.png",
                               recursive=True))[:50])
    gifs = sorted(glob.glob("/root/.pyenv/versions/3.11*/lib/**/*.gif",
                            recursive=True))[:50]
    bmps = sorted(glob.glob("/root/.pyenv/versions/*/lib/**/*.bmp",
                            recursive=True))[:10]
    if not (pngs or gifs or bmps):
        pytest.skip("no real-world images on this host")
    for paths, decode in ((pngs, im.decode_png_luminance),
                          (gifs, im.decode_gif_luminance),
                          (bmps, im.decode_bmp_luminance)):
        for path in paths:
            with open(path, "rb") as fh:
                data = fh.read()
            w, h, lum = decode(data)
            assert w > 0 and h > 0 and len(lum) == w * h, path


def test_bmp_rle8_decode():
    """RLE8 BMPs decode identically to the same pixels stored raw:
    encoded runs, absolute spans (word-aligned), EOL/EOF/delta escapes."""
    import random
    import struct

    from ocr_agent_spark.kernel.imagemeta import decode_bmp_luminance

    def bmp_rle8(w, h, rows_idx):
        pal = b"".join(bytes([v, v, v, 0]) for v in range(256))
        stream = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up storage
            x = 0
            row = rows_idx[y]
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                if run >= 2:
                    stream += bytes([run, row[x]])
                    x += run
                else:
                    span = [row[x]]
                    x += 1
                    while (x < w and (x + 1 >= w or row[x] != row[x + 1])
                           and len(span) < 255):
                        span.append(row[x])
                        x += 1
                    if len(span) >= 3:
                        stream += bytes([0, len(span)]) + bytes(span)
                        if len(span) & 1:
                            stream += b"\x00"
                    else:
                        for v in span:
                            stream += bytes([1, v])
            stream += b"\x00\x00"
        stream += b"\x00\x01"
        off = 14 + 40 + len(pal)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1,
                           len(stream), 0, 0, 256, 0)
        return (b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
                + info + pal + bytes(stream))

    rng = random.Random(7)
    w, h = 23, 9
    rows = [[rng.choice([0, 0, 0, 40, 200, rng.randrange(256)])
             for _ in range(w)] for _ in range(h)]
    w2, h2, lum = decode_bmp_luminance(bmp_rle8(w, h, rows))
    # identity grayscale palette → luma == index
    assert (w2, h2) == (w, h)
    assert bytes(lum) == bytes(rows[y][x] for y in range(h) for x in range(w))

    # delta escape skips (stays 0): run at (0,0..2), delta(+2,+2), run at y=2
    pal = b"".join(bytes([v, v, v, 0]) for v in range(256))
    stream = (bytes([3, 5]) + b"\x00\x02" + bytes([2, 2])
              + bytes([2, 9]) + b"\x00\x01")
    off = 14 + 40 + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, 8, 3, 1, 8, 1, len(stream),
                       0, 0, 256, 0)
    bmp = (b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
           + info + pal + stream)
    _, _, lum3 = decode_bmp_luminance(bmp)
    grid = [list(lum3[r * 8:(r + 1) * 8]) for r in range(3)]
    assert grid[2][:3] == [5, 5, 5]   # bottom row (y=0)
    assert grid[0][5:7] == [9, 9]     # after delta → (x=5, y=2) = top row
    # truncated RLE stream rejects
    import pytest as _pytest

    from ocr_agent_spark.kernel.imagemeta import ImageFormatError

    with _pytest.raises(ImageFormatError) as ei:
        decode_bmp_luminance(bmp[:-4])
    # exactly malformed — NOT the UnsupportedImageError subclass whose
    # fallback would silently convert failure rows to fake features
    assert type(ei.value) is ImageFormatError


def test_bmp_rle4_decode():
    """RLE4: runs alternate high/low nibbles; absolute spans pack two
    indices per byte, padded to word boundaries."""
    import struct

    from ocr_agent_spark.kernel.imagemeta import decode_bmp_luminance

    pal = b"".join(bytes([v * 17, v * 17, v * 17, 0]) for v in range(16))
    # one row, 7 px: run of 4 alternating 0xA,0x2 → A 2 A 2; absolute 3
    # nibbles 1,5,F (2 bytes data + 2 pad to word boundary)
    stream = (bytes([4, 0xA2]) + bytes([0, 3, 0x15, 0xF0]) + b"\x00\x00"
              + b"\x00\x01")
    off = 14 + 40 + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, 7, 1, 1, 4, 2, len(stream),
                       0, 0, 16, 0)
    bmp = (b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
           + info + pal + stream)
    w, h, lum = decode_bmp_luminance(bmp)
    assert (w, h) == (7, 1)
    assert list(lum) == [v * 17 for v in (0xA, 0x2, 0xA, 0x2, 0x1, 0x5, 0xF)]


def test_bmp_bitfields_deterministic():
    """Hand-built BI_BITFIELDS BMPs with known pixels: 32-bit 8-8-8
    masks, 16-bit 5-6-5 masks, and the 16-bit BI_RGB 5-5-5 default —
    deterministic coverage independent of the host corpus."""
    import struct

    from ocr_agent_spark.kernel.imagemeta import (
        ImageFormatError,
        UnsupportedImageError,
        decode_bmp_luminance,
    )

    def bmp_bitfields(w, h, bits, comp, masks, pixel_words):
        # hdr_size=40 → masks follow the info header; pixel data after
        row_bytes = (w * bits + 31) // 32 * 4
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for x in range(w):
                row += pixel_words[y * w + x].to_bytes(bits // 8, "little")
            row += b"\x00" * (row_bytes - len(row))
            body += row
        maskblk = b"".join(struct.pack("<I", m) for m in masks) if masks else b""
        off = 14 + 40 + len(maskblk)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bits, comp,
                           len(body), 0, 0, 0, 0)
        return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
                + info + maskblk + bytes(body))

    # 32-bit 8-8-8: pure red / green / white
    pix = [0x00FF0000, 0x0000FF00, 0x00FFFFFF]
    bmp32 = bmp_bitfields(3, 1, 32, 3, (0xFF0000, 0xFF00, 0xFF), pix)
    _, _, lum = decode_bmp_luminance(bmp32)
    assert list(lum) == [299 * 255 // 1000, 587 * 255 // 1000, 255]

    # 16-bit 5-6-5: red=0xF800 green=0x07E0 blue=0x001F white=0xFFFF
    pix = [0xF800, 0x07E0, 0x001F, 0xFFFF]
    bmp565 = bmp_bitfields(4, 1, 16, 3, (0xF800, 0x07E0, 0x001F), pix)
    _, _, lum = decode_bmp_luminance(bmp565)
    assert list(lum) == [299 * 255 // 1000, 587 * 255 // 1000,
                         114 * 255 // 1000, 255]

    # 16-bit BI_RGB (comp=0) default 5-5-5: white = 0x7FFF
    pix = [0x7FFF, 0x7C00]
    bmp555 = bmp_bitfields(2, 1, 16, 0, None, pix)
    _, _, lum = decode_bmp_luminance(bmp555)
    assert list(lum) == [255, 299 * 255 // 1000]

    # zeroed mask → unsupported (fake-feature fallback), not a failure
    import pytest as _pytest

    bad = bmp_bitfields(1, 1, 32, 3, (0xFF0000, 0, 0xFF), [0])
    with _pytest.raises(UnsupportedImageError):
        decode_bmp_luminance(bad)

    # RLE allocation bomb rejects in O(1)
    pal = b"".join(bytes([v, v, v, 0]) for v in range(256))
    stream = b"\x00\x01"
    off = 14 + 40 + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, 40000, 40000, 1, 8, 1,
                       len(stream), 0, 0, 256, 0)
    bomb = (b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
            + info + pal + stream)
    with _pytest.raises(ImageFormatError, match="exceeds"):
        decode_bmp_luminance(bomb)


def test_redact_pii_and_contamination(spark):
    rows = [
        (0, "reach me at jane.doe+spam@corp.example.org today"),
        (1, "server 10.0.0.1 answered, call +44 020 7946 0958 now"),
        (2, "perfectly clean text with no identifiers at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["t"] for r in
           d.select("doc_id", text.redact_pii("text").alias("t")).collect()}
    assert got[0] == "reach me at <EMAIL> today"
    assert got[1] == "server <IP> answered, call <PHONE> now"
    assert got[2] == rows[2][1]  # clean text passes through untouched

    bench = spark.createDataFrame(
        [(100, "perfectly clean text with no identifiers at all")],
        "doc_id long, text string",
    )
    hits = text.benchmark_contamination(d, bench, min_common=3).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in hits} == {(2, 100)}
    assert all(r["common_shingles"] >= 3 for r in hits)
    # unrelated docs don't hit
    assert not text.benchmark_contamination(
        d.filter(F.col("doc_id") < 2), bench, min_common=3).collect()


def test_multimodal_webp_real_dims_fake_features(spark):
    """WEBP (the reference's remaining image extension): REAL header
    dims from VP8X/VP8/VP8L chunks, pixel decode needs libwebp → fake
    features with feature_source='fake', never a failure row. Uses the
    real-encoder WEBP shipped with CPython's test suite when present."""
    import glob as _glob
    import struct as _struct

    paths = sorted(_glob.glob(
        "/root/.pyenv/versions/*/lib/python3.1*/test/**/python.webp",
        recursive=True,
    ))
    payloads = []
    if paths:
        with open(paths[0], "rb") as fh:
            payloads.append((0, fh.read(), 16, 16))
    # synthetic lossy VP8 header (dims 33x17)
    vp8 = (b"RIFF" + _struct.pack("<I", 30) + b"WEBPVP8 "
           + _struct.pack("<I", 16) + b"\x00\x00\x00\x9d\x01\x2a"
           + _struct.pack("<HH", 33, 17) + b"\x00" * 6)
    payloads.append((1, vp8, 33, 17))
    media = spark.createDataFrame(
        [(i, "image", p, "image/webp", w, h, None) for i, p, w, h in payloads],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            multimodal.extract_media_features(media, decode_backend="headers").collect()}
    for i, _, w, h in payloads:
        r = rows[i]
        assert r["status"] == "completed", r["error"]
        assert r["format"] == "webp"
        assert (r["src_width"], r["src_height"]) == (w, h)
        assert r["feature_source"] == "fake"


def test_unicode_normalize_udf(spark):
    """NFC collapses decomposed sequences so exact dedup sees one form;
    NFKC additionally folds compatibility ligatures."""
    from ocr_agent_spark.functions.text import unicode_normalize_udf

    df = spark.createDataFrame(
        [(0, "éclair"), (1, "éclair"), (2, "ﬁne"), (3, None)],
        "id long, t string",
    )
    nfc = {r["id"]: r["n"] for r in
           df.select("id", unicode_normalize_udf("NFC")("t").alias("n")).collect()}
    assert nfc[0] == nfc[1] == "éclair"  # both forms collapse
    assert nfc[2] == "ﬁne"               # NFC keeps the ligature
    assert nfc[3] is None
    nfkc = {r["id"]: r["n"] for r in
            df.select("id", unicode_normalize_udf("NFKC")("t").alias("n")).collect()}
    assert nfkc[2] == "fine"                  # NFKC folds it
    import pytest as _pytest
    with _pytest.raises(ValueError):
        unicode_normalize_udf("NFX")


def test_multimodal_resize_is_real(spark):
    """resize_to drives an actual PIL-NEAREST resample: the target dims
    are honored, the histogram stays normalized, and the CONTENT split
    of a half-dark/half-bright source survives exact-divisor resizes
    (a count-preserving-but-scrambling index bug would fail this)."""
    from ocr_agent_spark.kernel.imagemeta import (
        build_bmp,
        luminance_histogram,
        resize_luminance,
    )

    bmp = build_bmp(64, 64, seed=3)
    media = spark.createDataFrame(
        [(0, "image", bmp, "image/bmp", 64, 64, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.extract_media_features(
        media, decode_backend="headers", resize_to=(16, 8)
    ).collect()[0]
    assert (r["out_width"], r["out_height"]) == (16, 8)
    assert r["feature_source"] == "real"
    assert sum(r["feature"]) == pytest.approx(1.0, abs=1e-6)
    # kernel-level content checks: half-dark/half-bright rows keep the
    # exact 50/50 split through down- AND up-scale (exact divisors)
    half = (bytes([10]) * 8 + bytes([250]) * 8) * 16  # 16x16, left/right
    for tw, th in ((8, 8), (4, 16), (32, 32)):
        hist = luminance_histogram(tw, th, resize_luminance(16, 16, half, tw, th))
        assert hist[0] == pytest.approx(0.5)
        assert hist[15] == pytest.approx(0.5)
    # PIL-NEAREST center sampling: 4 -> 2 picks columns {1, 3}
    assert list(resize_luminance(4, 1, bytes([10, 20, 30, 40]), 2, 1)) == [20, 40]
    # downscale of a solid block stays solid
    solid = bytes([77]) * (10 * 10)
    assert set(resize_luminance(10, 10, solid, 3, 7)) == {77}


def test_multimodal_compressed_container_metadata(spark):
    """mp3/mp4/mkv/ogg/flac payloads get REAL typed header metadata
    (feature_source='header') even though sample decode is impossible
    here (VERDICT r5 item 5; ogg/flac added r7)."""
    media = multimodal.fake_compressed_media_table(spark, n=18)
    feats = multimodal.extract_media_features(media, decode_backend="headers")
    rows = {r["media_id"]: r for r in feats.collect()}
    meta = {r["media_id"]: r for r in media.collect()}
    assert len(rows) == 18
    for mid, r in rows.items():
        m = meta[mid]
        assert r["status"] == "completed", r["error"]
        assert r["feature_source"] == "header"
        # mp3 durations quantize to whole frames (≤ ~36 ms); the rest
        # carry the (near-)exact millisecond value
        tol = 40 if m["mime"] == "audio/mpeg" else 1
        assert abs(r["duration_ms"] - m["duration_ms"]) <= tol
        assert r["codec"] is not None
        if m["mime"] == "audio/mpeg":
            assert r["format"] == "mp3"
            assert r["sample_rate"] in (44100, 48000, 32000)
            assert r["channels"] in (1, 2)
        elif m["mime"] == "video/mp4":
            assert r["format"] == "mp4"
            assert (r["src_width"], r["src_height"]) == (m["width"], m["height"])
        elif m["mime"] == "audio/ogg":
            assert r["format"] == "ogg"
            assert r["codec"] in ("vorbis", "opus")
            assert r["sample_rate"] in (44100, 48000)
        elif m["mime"] == "audio/flac":
            assert r["format"] == "flac" and r["codec"] == "flac"
            assert r["sample_rate"] in (44100, 48000, 96000)
        else:
            assert r["format"] in ("webm", "mkv")
            assert (r["src_width"], r["src_height"]) == (m["width"], m["height"])


def test_multimodal_wav_avi_rows_carry_typed_metadata(spark):
    """The REAL-decode paths now also fill duration/sample_rate/
    channels/codec (schema extension is uniform, not header-only)."""
    media = multimodal.fake_media_table(spark, n=24)
    feats = multimodal.extract_media_features(media, decode_backend="headers")
    rows = feats.collect()
    wavs = [r for r in rows if r["format"] == "wav"]
    avis = [r for r in rows if r["format"] == "avi"]
    assert wavs and avis
    for r in wavs:
        assert r["codec"] == "pcm" and r["sample_rate"] == 8000
        assert r["channels"] in (1, 2) and r["duration_ms"] > 0
    for r in avis:
        assert r["codec"] == "rawvideo" and r["duration_ms"] > 0


def test_multimodal_corrupt_container_is_failure_row(spark):
    """A payload that positively identifies as a container (ID3/ftyp/
    EBML/OggS/fLaC magic) but is broken becomes a failure row (D2);
    merely unrecognized bytes still fall back to fake features."""
    corrupt_id3 = b"ID3\x04\x00\x00\x00\x00\x01\x00" + b"\xde\xad" * 600
    unknown = b"\x89zz some codec this env cannot even sniff" * 10
    media = spark.createDataFrame(
        [(0, "audio", bytearray(corrupt_id3), "audio/mpeg", None, None, None),
         (1, "audio", bytearray(unknown), "audio/ogg", None, None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in multimodal.extract_media_features(
        media, decode_backend="headers").collect()}
    assert rows[0]["status"] == "failed" and "MediaContainerError" in rows[0]["error"]
    assert rows[1]["status"] == "completed"
    assert rows[1]["feature_source"] == "fake"
