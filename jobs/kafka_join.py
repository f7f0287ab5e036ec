#!/usr/bin/env python
"""Flagship job: decode both Kafka streams, join, publish to Kafka —
the drop-in replacement for the reference's `sparkpykafkajoin.py`
(launched by submit-event-kafkajoin.sh with
--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>).

Differences from the reference, on purpose:
- one streaming query, the Kafka sink: the reference's console sink
  (sparkpykafkajoin.py:219-221) was dead code behind awaitTermination
  (SURVEY §2.2), and a second query would keep a second copy of the
  join's unbounded state;
- the query checkpoints;
- maxOffsetsPerTrigger bounds the earliest-replay first batch.

Usage:
  spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
      jobs/kafka_join.py [bootstrap_servers]

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import (
    flagship_pipeline,
    serialize_risk_payload,
)
from evaluate_human_balance_with_spark_streaming_spark.session import get_spark
from evaluate_human_balance_with_spark_streaming_spark.sources.kafka import (
    kafka_sink_options,
    read_kafka_stream,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    await_any,
    start_query,
)


def main() -> None:
    bootstrap = sys.argv[1] if len(sys.argv) > 1 else "localhost:9092"
    spark = get_spark("ehb-kafka-join")

    redis_raw = read_kafka_stream(
        spark, "redis-server", bootstrap, max_offsets_per_trigger=100_000
    )
    events_raw = read_kafka_stream(
        spark, "stedi-events", bootstrap, max_offsets_per_trigger=100_000
    )
    joined = flagship_pipeline(redis_raw, events_raw)

    start_query(
        # The certified payload shape (score as a JSON string) — shared
        # with the stedi_serialized_sink oracle query, so the topic the
        # risk-graph UI consumes cannot drift from the certification.
        serialize_risk_payload(joined),
        "kafka",
        checkpoint_location="/tmp/stedi-risk-checkpoint",
        options=kafka_sink_options("stedi-risk", bootstrap),
    )
    await_any(spark)


if __name__ == "__main__":
    main()
