#!/usr/bin/env python
"""Customer-decode job: `redis-server` topic → decode chain →
(email, birthYear) on the console. Drop-in replacement for the
reference's `sparkpyrediskafkastreamtoconsole.py`
(submit-redis-kafka-streaming.sh).

Usage:
  spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
      jobs/redis_stream_to_console.py [bootstrap_servers]

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

from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import customer_pipeline
from evaluate_human_balance_with_spark_streaming_spark.session import get_spark
from evaluate_human_balance_with_spark_streaming_spark.sources.kafka import read_kafka_stream
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    await_any,
    start_query,
)


def main() -> None:
    bootstrap = sys.argv[1] if len(sys.argv) > 1 else "localhost:9092"
    spark = get_spark("ehb-redis-console")
    raw = read_kafka_stream(spark, "redis-server", bootstrap)
    start_query(
        customer_pipeline(raw),
        "console",
        checkpoint_location=tempfile.mkdtemp(prefix="stedi-redis-console-"),
    )
    await_any(spark)


if __name__ == "__main__":
    main()
