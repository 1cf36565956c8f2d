"""C11 — cascaded streaming window aggregation (two chained stateful
operators in ONE streaming query).

The pre-aggregation rollup every metrics pipeline runs: raw events →
15-minute partial counts → hourly rollup (quarter count, total, max),
with BOTH aggregations streaming in the same query. Spark ≥ 3.4 supports
chained stateful operators in append mode when the second window groups
on ``window_time()`` of the first — the watermark propagates through, so
each operator's state is bounded by its own open windows and the hourly
output is emitted once finalized. The 100 TB shape: the first agg does
map-side partial aggregation per micro-batch (raw events never shuffle
twice), the second operates on ~N_types × 4 rows per hour — a cascade
that cuts shuffle volume by the raw-to-quarter compression ratio.

Replay mechanics follow c7: three time-ordered file micro-batches plus a
far-future sentinel event that pushes the watermark past every real hour
so append mode flushes both stateful operators; the sentinel's own group
never emits and is filtered by its marker event_type.

The oracle computes the identical two-level rollup in batch SQL, so the
hash match proves streaming cascade == batch semantics exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_C11_ORACLE = """
WITH q AS (
  SELECT CAST(floor(epoch_us(ts) / 900000000) * 900 AS BIGINT) AS qsec,
         event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY 1, 2
)
SELECT strftime(to_timestamp(CAST(floor(qsec / 3600) * 3600 AS BIGINT)) AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_quarters,
       CAST(sum(n) AS BIGINT) AS total_events,
       CAST(max(n) AS BIGINT) AS max_quarter
FROM q
GROUP BY 1, 2
"""


@register(
    "c11_cascade_rollup",
    oracle=_C11_ORACLE,
    tags=("C11", "streaming", "window", "cascade"),
)
def c11_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type")
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window
    bounds = ev.agg(F.max("ts").alias("mx")).first()

    # sentinel, replayed last, 3 h past the max event: the watermark sails
    # past the last real hour window in both stateful operators
    sentinel = spark.createDataFrame(
        [(-1, bounds["mx"], "__sentinel__")],
        "event_id bigint, ts timestamp, event_type string",
    ).select(
        "event_id",
        (F.col("ts") + F.expr("interval 3 hours")).alias("ts"),
        "event_type",
    )

    def write(stream, work):
        quarters = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # second stateful operator: window over the FIRST window's event
        # time (window_time = end - 1 µs, always inside the parent hour)
        hourly = quarters.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("h"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_quarters"),
            F.sum("n").alias("total_events"),
            F.max("n").alias("max_quarter"),
        )
        return (
            hourly.writeStream.format("parquet")
            .option("path", os.path.join(work, "out"))
            .outputMode("append")
        )

    def read(work):
        emitted = spark.read.parquet(os.path.join(work, "out"))
        return emitted.filter(F.col("event_type") != "__sentinel__").select(
            F.date_format("h.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_quarters",
            "total_events",
            "max_quarter",
        )

    return run_replay(spark, [tiles + [sentinel]], write, read)
