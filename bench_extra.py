"""Noop-isolated stage benchmarks (guide §1.4) — NOT the driver bench.

``bench.py`` is the frozen driver contract; this file exists so the
round's optimization evidence can cite computation-only timings
(``df.write.format("noop")``) and per-stage splits without touching it.

Prints ONE JSON line. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    repeats = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")), 1)
    sys.path.insert(0, REPO)

    import statistics

    from pyspark.sql import functions as F

    from ocr_agent_spark.cache import release_caches
    from ocr_agent_spark.functions.dedup import minhash_near_duplicates
    from ocr_agent_spark.functions.similarity import cosine_topk
    from ocr_agent_spark.functions.text import text_profile
    from ocr_agent_spark.operators.extract import extract_pages_fused
    from ocr_agent_spark.operators.merge import _ordered_chunks
    from ocr_agent_spark.session import build_spark

    import __spark_entry__ as entrymod

    spark = build_spark(
        app_name="ocr-agent-spark-bench-extra", cores=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}

    def timed(name, fn, reset=None):
        spark.sparkContext.setJobDescription(name)
        runs = []
        for i in range(repeats):
            if reset is not None and i > 0:
                reset()
            t0 = time.monotonic()
            fn()
            runs.append(round(time.monotonic() - t0, 3))
        timings[name] = round(statistics.median(runs), 3)
        spark.sparkContext.setJobDescription(None)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [1.0 if i % 3 == 0 else (-0.5 if i % 3 == 1 else 0.25)
            for i in range(64)]
    qs = entrymod.queries()

    # warm-ups (JIT, Python workers) — same policy as bench.py
    minhash_near_duplicates(docs, threshold=0.5).count()
    release_caches()

    timed("dedup_minhash_noop",
          lambda: noop(minhash_near_duplicates(docs, threshold=0.5)),
          reset=release_caches)
    release_caches()
    timed("ann_topk_noop", lambda: noop(cosine_topk(emb, qvec, k=10)))
    timed("text_stats_noop", lambda: noop(
        text_profile(docs).groupBy("predicted_lang").agg(
            F.count(F.lit(1)), F.avg("n_tokens"), F.avg("quality"))
    ))
    timed("q1_noop", lambda: noop(qs["q1_pricing_summary"](spark, sf_dir)))
    timed("q3_noop", lambda: noop(qs["q3_top_revenue"](spark, sf_dir)))

    pages_path = os.path.join(REPO, "_build", "pages_n200000")
    if os.path.exists(pages_path):
        pages = spark.read.parquet(pages_path)
        extract_pages_fused(pages).count()  # warm
        timed("extract_noop", lambda: noop(extract_pages_fused(pages)))

    extracted_path = os.path.join(REPO, "_build", "bench_extracted")
    if os.path.exists(extracted_path):
        ext = spark.read.parquet(extracted_path)
        timed("merge_chunks_noop", lambda: noop(_ordered_chunks(ext, "dollar")))

    def loadavg():
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    print(json.dumps({
        "metric": "noop_isolated_stage_sec",
        "timings": timings,
        "repeats": repeats,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "loadavg_end": loadavg(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
