"""Persist-lifecycle: operator caches are tracked and releasable.

Operators that persisted intermediates with no unpersist accumulated
cached blocks across calls in a long-lived driver. Every persist now
goes through cache.persist_tracked and release_caches() drops them all.
"""

from __future__ import annotations

from ocr_agent_spark.cache import release_caches


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_minhash_caches_released(spark):
    from ocr_agent_spark.functions.dedup import minhash_near_duplicates

    release_caches()
    baseline = _n_cached(spark)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    minhash_near_duplicates(docs, threshold=0.3).count()
    release_caches()
    assert _n_cached(spark) == baseline


def test_cache_scope_releases_only_inner_persists(spark):
    """ADVICE r2: a job must not unpersist caches its caller still
    depends on — cache_scope releases exactly what was persisted inside
    it, leaving the caller's earlier tracked caches live."""
    from ocr_agent_spark.cache import cache_scope, persist_tracked

    release_caches()
    baseline = _n_cached(spark)

    outer = persist_tracked(spark.range(10))
    outer.count()
    n_outer = _n_cached(spark)
    assert n_outer > baseline

    with cache_scope():
        inner = persist_tracked(spark.range(20))
        inner.count()
        assert _n_cached(spark) > n_outer
    assert _n_cached(spark) == n_outer  # inner gone, outer intact

    release_caches()
    assert _n_cached(spark) == baseline


def test_run_extraction_job_preserves_caller_caches(spark, tmp_path):
    """run_extraction_job is scope-contained: the caller's tracked cache
    survives the job and its own intermediates are dropped."""
    from ocr_agent_spark.cache import persist_tracked
    from ocr_agent_spark.fixtures import pages_dataframe
    from ocr_agent_spark.pipeline import run_extraction_job

    release_caches()
    baseline = _n_cached(spark)
    mine = persist_tracked(spark.range(7))
    mine.count()
    n_mine = _n_cached(spark)

    run_extraction_job(spark, pages_dataframe(spark, 15),
                       str(tmp_path / "scope"), run_id="r")
    assert _n_cached(spark) == n_mine  # job cleaned up after itself only

    release_caches()
    assert _n_cached(spark) == baseline


def test_registry_is_thread_local(spark):
    """Concurrent jobs on separate driver threads cannot release each
    other's caches."""
    import threading

    from ocr_agent_spark.cache import persist_tracked

    release_caches()
    baseline = _n_cached(spark)
    df = persist_tracked(spark.range(5))
    df.count()
    n_one = _n_cached(spark)
    assert n_one > baseline

    def other_thread_release():
        # this thread's registry is empty: releases nothing
        assert release_caches() == 0

    t = threading.Thread(target=other_thread_release)
    t.start(); t.join()
    assert _n_cached(spark) == n_one  # still cached

    release_caches()
    assert _n_cached(spark) == baseline


def test_release_all_caches_reaches_other_threads(spark):
    """code-review r3: caches persisted on a worker thread (foreachBatch,
    thread pools) must be releasable after that thread exits."""
    import threading

    from ocr_agent_spark.cache import persist_tracked, release_all_caches

    release_all_caches()
    baseline = _n_cached(spark)

    def worker():
        df = persist_tracked(spark.range(9))
        df.count()

    t = threading.Thread(target=worker)
    t.start(); t.join()
    assert _n_cached(spark) > baseline       # worker's cache is live
    assert release_caches() == 0             # this thread owns nothing
    assert _n_cached(spark) > baseline
    assert release_all_caches() >= 1         # terminal cleanup reaches it
    assert _n_cached(spark) == baseline
