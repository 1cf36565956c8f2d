"""C7 — streaming session windows, registered + oracle-checked.

The streaming counterpart of ``e2_sessionize``: per-user sessions with a
30-minute inactivity gap computed by Spark's native ``session_window``
aggregate across micro-batches (sessions merge as events arrive; state
lives in the session store; watermark finalizes a session once event time
passes its end). Batch gaps-and-islands and streaming session_window MUST
agree — the oracle is e2's DuckDB SQL minus the per-user ordinal.

Replay mechanics: events arrive as 3 time-ordered file micro-batches plus
one sentinel event 2 hours after the global max (its own never-emitted
session), which advances the watermark past every real session's end so
append mode flushes them; the trailing no-data micro-batch
(``noDataMicroBatches``, on by default) performs the final eviction. At
100 TB the same query runs unmodified on a live stream — the session
store is keyed by (user, session), state size is bounded by ACTIVE
sessions only, and the watermark both bounds state and defines emission.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

_C7_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id,
       strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
       strftime(max(ts), '{_TS_FMT_DUCK}') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@register("c7_streaming_sessions", oracle=_C7_ORACLE, tags=("C7", "streaming", "session"))
def c7_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id")
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window
    bounds = ev.agg(F.max("ts").alias("mx")).first()

    # sentinel, replayed last: a lone far-future event whose only job is to
    # advance the watermark past every real session's end (its own session
    # never emits — no event ever follows it)
    sentinel = spark.createDataFrame(
        [(-1, bounds["mx"], -1)], "event_id bigint, ts timestamp, user_id bigint"
    ).select("event_id", (F.col("ts") + F.expr("interval 2 hours")).alias("ts"), "user_id")

    def write(stream, work):
        sessions = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        return (
            sessions.writeStream.format("parquet")
            .option("path", os.path.join(work, "out"))
            .outputMode("append")
        )

    def read(work):
        emitted = spark.read.parquet(os.path.join(work, "out"))
        return emitted.filter(F.col("user_id") >= 0).select(
            "user_id",
            F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
            # session_window end = last event + gap; undo the pad to report
            # the observed last-event time, matching the batch definition
            F.date_format(
                F.col("w.end") - F.expr("interval 30 minutes"), _TS_FMT_SPARK
            ).alias("session_end"),
            "n_events",
        )

    return run_replay(spark, [tiles + [sentinel]], write, read)
