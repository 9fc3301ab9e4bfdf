"""ExactSubstr-style duplicate-span removal (functions/spandedup.py)."""

from pyspark.sql import functions as F

from ocr_agent_spark.functions import spandedup

# 10 distinct tokens — the shared prefix used across tests
SHARED = "one two three four five six seven eight nine ten"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_full_copy_vanishes_first_kept(spark):
    d = _docs(spark, [
        (0, SHARED + " tail alpha beta gamma"),
        (1, SHARED + " tail alpha beta gamma"),     # exact copy
        (2, "totally unrelated words in this other document here"),
    ])
    out = {r["doc_id"]: r["text"]
           for r in spandedup.remove_duplicate_spans(d, span_tokens=5).collect()}
    assert out[0] == SHARED + " tail alpha beta gamma"
    assert 1 not in out                              # every span duplicated
    assert out[2] == "totally unrelated words in this other document here"


def test_head_overlap_partial_cut(spark):
    d = _docs(spark, [
        (0, SHARED + " endings differ completely here now"),
        (1, SHARED + " wholly different continuation text follows after"),
    ])
    out = {r["doc_id"]: r["text"]
           for r in spandedup.remove_duplicate_spans(d, span_tokens=5).collect()}
    assert out[0] == SHARED + " endings differ completely here now"
    # doc 1: the 6 shared 5-token windows (starts 0..5) merge into a
    # [0, 10) cut — the unique tail survives intact
    assert out[1] == "wholly different continuation text follows after"


def test_within_doc_repeat_cut(spark):
    d = _docs(spark, [
        (0, "a b c d e a b c d e tail words continue onward"),
    ])
    out = {r["doc_id"]: r["text"]
           for r in spandedup.remove_duplicate_spans(d, span_tokens=5).collect()}
    assert out[0] == "a b c d e tail words continue onward"


def test_short_docs_untouched(spark):
    d = _docs(spark, [
        (0, "short doc"),
        (1, "short doc"),    # duplicated but below span_tokens — kept
    ])
    out = {r["doc_id"]: r["text"]
           for r in spandedup.remove_duplicate_spans(d, span_tokens=5).collect()}
    assert out == {0: "short doc", 1: "short doc"}


def test_idempotent(spark):
    d = _docs(spark, [
        (0, SHARED + " tail alpha beta gamma"),
        (1, SHARED + " wholly different continuation text follows after"),
        (2, SHARED + " tail alpha beta gamma"),
    ])
    once = spandedup.remove_duplicate_spans(d, span_tokens=5)
    twice = spandedup.remove_duplicate_spans(once, span_tokens=5)
    a = {(r["doc_id"], r["text"]) for r in once.collect()}
    b = {(r["doc_id"], r["text"]) for r in twice.collect()}
    assert a == b


def test_duplicate_span_stats(spark):
    d = _docs(spark, [
        (0, SHARED),                  # 10 tokens → 6 windows of 5
        (1, SHARED),                  # same 6 windows again
        (2, "all unique tokens here none shared with others at all"),
    ])
    row = spandedup.duplicate_span_stats(d, span_tokens=5).collect()[0]
    assert row["n_spans_total"] == 6 + 6 + 6
    assert row["n_fps_distinct"] == 6 + 6
    assert row["n_fps_duplicated"] == 6
    assert row["n_occurrences_removable"] == 6


def test_span_pipeline_stays_jvm(spark):
    from plan_inspect import python_eval_operators

    d = _docs(spark, [(0, SHARED), (1, SHARED + " more words here")])
    assert python_eval_operators(
        spandedup.span_fingerprints(d, span_tokens=5)) == []
    assert python_eval_operators(
        spandedup.remove_duplicate_spans(d, span_tokens=5)) == []
