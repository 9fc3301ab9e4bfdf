"""Dump .explain("formatted") for the bench/headline queries.

Usage: python tools/dump_plans.py <out_dir> [repo_root]

Writes <out_dir>/<query>.txt for each headline query (the judge-facing
plan evidence; see plans/r08/). Run against a pristine checkout for
"before" plans and the working tree for "after" plans.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys


def main() -> None:
    out_dir = sys.argv[1]
    repo = sys.argv[2] if len(sys.argv) > 2 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, repo)

    from pyspark.sql import functions as F

    from ocr_agent_spark.functions.dedup import minhash_near_duplicates
    from ocr_agent_spark.functions.similarity import cosine_topk
    from ocr_agent_spark.functions.text import text_profile
    from ocr_agent_spark.operators.extract import extract_pages_fused
    from ocr_agent_spark.operators.merge import _ordered_chunks
    from ocr_agent_spark.session import build_spark

    import __spark_entry__ as entrymod

    spark = build_spark(
        app_name="dump-plans", cores=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [1.0 if i % 3 == 0 else (-0.5 if i % 3 == 1 else 0.25)
            for i in range(64)]
    qs = entrymod.queries()

    pages_path = os.path.join(repo, "_build", "pages_n200000")
    extracted_path = os.path.join(repo, "_build", "bench_extracted")

    plans = {
        "q1_pricing_summary": lambda: qs["q1_pricing_summary"](spark, sf_dir),
        "q3_top_revenue": lambda: qs["q3_top_revenue"](spark, sf_dir),
        "dedup_minhash": lambda: minhash_near_duplicates(docs, threshold=0.5),
        "ann_topk": lambda: cosine_topk(emb, qvec, k=10),
        "text_stats": lambda: (
            text_profile(docs)
            .groupBy("predicted_lang")
            .agg(F.count(F.lit(1)), F.avg("n_tokens"), F.avg("quality"))
        ),
    }
    if os.path.exists(pages_path):
        plans["extract"] = lambda: extract_pages_fused(
            spark.read.parquet(pages_path)
        )
    if os.path.exists(extracted_path):
        plans["merge"] = lambda: _ordered_chunks(
            spark.read.parquet(extracted_path), "dollar"
        )

    for name, fn in plans.items():
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                fn().explain("formatted")
        except Exception as exc:  # keep going; record the failure
            buf.write(f"\nEXPLAIN FAILED: {exc!r}\n")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {name}.txt ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
