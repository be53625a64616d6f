"""Traced pipeline driver, launched with spark-submit like jobs/run_pipeline.py.

Builds the session the way ``jobs/run_pipeline.py`` does, then calls
``CheckpointedPipeline.run(pages, through=stage)`` once per stage, each call
inside its own span (one Spark job group per stage), and writes the spans.

Usage: spark-submit --master local[4] --py-files PKG.zip \\
    erbench/pipeline_driver.py INPUT.parquet OUT_DIR LAUNCH_TS TRACE.json
"""

from __future__ import annotations

import sys
import time


def main() -> None:
    input_path, out_dir, launch_ts, trace_path = sys.argv[1:5]
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("entity-matchers-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from entity_matchers_spark.plans.pipeline import CheckpointedPipeline
    from spans import SpanCollector

    pages = spark.read.parquet(input_path)
    setup_s = time.time() - float(launch_ts)
    collector = SpanCollector(spark, "pipeline")
    pipe = CheckpointedPipeline(spark, out_dir)
    for stage in CheckpointedPipeline.STAGES:
        with collector.span(stage):
            pipe.run(pages, through=stage)
    collector.root["setup_s"] = setup_s
    collector.dump(trace_path)
    spark.stop()


if __name__ == "__main__":
    main()
