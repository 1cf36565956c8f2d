"""C8 — stream-static enrichment join, registered + oracle-checked.

The remaining first-class Structured Streaming join shape (stream-stream
is e9, keyed state c4, session windows c7): an unbounded event stream
enriched against a slowly-changing static dimension (customer ⋈ nation)
INSIDE the streaming query. Spark plans the static side as a broadcast per
micro-batch — no state store, no watermark needed for the join itself —
which is exactly how a 100 TB/day event feed picks up dimension attributes
without shuffling the stream.

Replay: 3 time-ordered file micro-batches; foreachBatch appends enriched
rows to a parquet sink; the result aggregates the sink per (nation,
event_type) and must hash-match the all-data batch join — the DuckDB
oracle. Value doubles are floored to integer micros pre-aggregation, so
the comparison is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events, load_table
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_C8_ORACLE = """
SELECT n.n_name AS nation, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(e.value * 1000000.0) AS BIGINT)) AS BIGINT) AS total_micros
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, e.event_type
"""


@register("c8_stream_static_enrich", oracle=_C8_ORACLE, tags=("C8", "streaming", "join"))
def c8_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("value_micros"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    def write(stream, work):
        # the stream-static join IS the streaming plan — the dimension is a
        # plain batch DataFrame re-broadcast per micro-batch
        enriched = stream.join(F.broadcast(dim), "user_id", "inner")
        return (
            enriched.writeStream.format("parquet")
            .option("path", os.path.join(work, "out"))
            .outputMode("append")
        )

    def read(work):
        return (
            spark.read.parquet(os.path.join(work, "out"))
            .groupBy("nation", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_micros").alias("total_micros"),
            )
        )

    return run_replay(spark, [tiles], write, read)
