"""spark-submit smoke job (run with --py-files ocr_agent_spark.zip).

    python tools/package.py
    spark-submit --master 'local[4]' \
        --py-files _build/ocr_agent_spark.zip tools/submit_job.py

Imports the engine ONLY from the shipped zip (no repo sys.path), runs
the extraction job (extract, snapshot commit, merge) end-to-end on a
deterministic in-memory corpus into a temporary job root, and prints
one JSON status line.
"""

from __future__ import annotations

import json
import shutil
import tempfile

from pyspark.sql import SparkSession


def main() -> None:
    spark = SparkSession.builder.appName("ocr-agent-spark-submit-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # Imports resolve from the --py-files zip on driver and executors.
    from ocr_agent_spark.fixtures import pages_dataframe
    from ocr_agent_spark.pipeline import merge_job, read_extracted, run_extraction_job

    root = tempfile.mkdtemp(prefix="ocr-agent-spark-smoke-")
    try:
        result = run_extraction_job(spark, pages_dataframe(spark, 80), root)
        merged = merge_job(spark, root)
        extracted = read_extracted(spark, root)
        counts = {r["status"]: r["count"]
                  for r in extracted.groupBy("status").count().collect()}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "ok": counts.get("completed", 0) > 0 and merged.startswith("# Extracted Output"),
        "status_counts": counts,
        "pages_processed": result.pages_processed,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
