"""Arbitrary keyed streaming state (C4) as a registered, oracle-checked query.

``running_user_stats`` (streaming/stateful.py — ``applyInPandasWithState``)
was previously pytest-only; this registers a full replay (``run_replay``): events
arrive as three time-ordered micro-batches, per-user (count, sum, max) state
lives inside Spark's state store across batches, and every micro-batch's
updated rows land in a parquet sink tagged with the batch id. The final
state row per user (the one from the last batch the user appeared in) must
equal the batch groupBy over all events — the DuckDB oracle.

Exactness: sums of doubles are order-dependent, so the stream accumulates
``floor(value * 1e6)`` integer micros — floor(double·1e6) is bit-identical
on both engines and int64 accumulation is associative — making the oracle
hash-exact, not tolerance-based.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.stateful import running_user_stats
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

def _batch_id_sink(out_dir: str):
    """foreachBatch sink: append each epoch's update rows tagged with the
    batch id, so the read can keep each key's last emission."""
    return lambda bdf, eid: bdf.withColumn("batch_id", F.lit(eid)).write.mode(
        "append"
    ).parquet(out_dir)


def _last_emission(spark: SparkSession, work: str, cols: tuple[str, ...]) -> DataFrame:
    """Each user's row from the last batch that emitted it."""
    last = W.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        spark.read.parquet(os.path.join(work, "out"))
        .withColumn("rn", F.row_number().over(last))
        .filter(F.col("rn") == 1)
        .select(*cols)
    )


_C4_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE) AS total_value,
       CAST(max(floor(value * 1000000.0)) AS DOUBLE) AS max_value
FROM events GROUP BY user_id
"""


@register("c4_stateful_user_stats", oracle=_C4_ORACLE, tags=("C4", "streaming", "state"))
def c4_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 3 micro-batches through applyInPandasWithState; the
    per-user state after the final batch must equal the all-data groupBy."""
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "ts",
        "user_id",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("double").alias("value"),
    )
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    def write(stream, work):
        return (
            running_user_stats(stream)
            .writeStream.foreachBatch(_batch_id_sink(os.path.join(work, "out")))
            .outputMode("update")
        )

    return run_replay(
        spark,
        [tiles],
        write,
        lambda work: _last_emission(
            spark, work, ("user_id", "n_events", "total_value", "max_value")
        ),
    )


_C4_FUNNEL_ET_ORACLE = """
WITH su AS (SELECT user_id, min(epoch_us(ts)) AS st FROM events
            WHERE event_type = 'signup' GROUP BY 1),
cl AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ct
       FROM events e JOIN su USING (user_id)
       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= su.st GROUP BY e.user_id),
pu AS (SELECT e.user_id, min(epoch_us(e.ts)) AS pt
       FROM events e JOIN cl USING (user_id)
       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= cl.ct GROUP BY e.user_id)
SELECT u.user_id,
       CAST(coalesce(su.st, -1) AS BIGINT) AS s_us,
       CAST(coalesce(cl.ct, -1) AS BIGINT) AS c_us,
       CAST(coalesce(pu.pt, -1) AS BIGINT) AS p_us,
       CAST(CASE WHEN pu.pt IS NOT NULL THEN 3 WHEN cl.ct IS NOT NULL THEN 2
                 WHEN su.st IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN su USING (user_id) LEFT JOIN cl USING (user_id) LEFT JOIN pu USING (user_id)
"""


@register(
    "c4_funnel_event_time",
    oracle=_C4_FUNNEL_ET_ORACLE,
    tags=("C4", "streaming", "state", "funnel"),
)
def c4_funnel_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time funnel under OUT-OF-ORDER arrival (round 7, verdict task
    #6): events replay as four micro-batches with ~40% of rows
    hash-jittered one ts-quartile early/late — intra-user cross-batch
    disorder well inside the watermark slack. The watermark-buffered
    operator (streaming/stateful.py:funnel_progress_event_time) finalizes
    each user's complete prefix as the watermark advances and re-steps the
    buffered suffix per emission, so the LAST emission per user is exact
    over all their events and hash-matches the batch e6 stepping — the
    retraction case the ordered-arrival funnel documents as out of scope.
    """
    from realestatedeals_spark.operators.ranking import ntile_exact
    from realestatedeals_spark.streaming.stateful import funnel_progress_event_time

    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_type")
    evq = ntile_exact(
        ev, [("ts", "asc"), ("user_id", "asc"), ("event_type", "asc")], 4, out_col="q4"
    )
    jit = F.xxhash64("user_id", "ts", "event_type") % 5
    batch = F.greatest(
        F.lit(0),
        F.least(
            F.lit(3),
            F.col("q4") - 1 + F.when(jit == 0, -1).when(jit == 1, 1).otherwise(0),
        ),
    )
    tiled = evq.withColumn("b", batch).drop("q4")
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("lo"), F.unix_micros(F.max("ts")).alias("hi")
    ).first()
    delay_us = (bounds["hi"] - bounds["lo"]) // 2  # 2 quartile widths of slack

    def write(stream, work):
        return (
            funnel_progress_event_time(stream, delay=f"{delay_us} microseconds")
            .writeStream.foreachBatch(_batch_id_sink(os.path.join(work, "out")))
            .outputMode("update")
        )

    return run_replay(
        spark,
        [[tiled.filter(F.col("b") == i).drop("b") for i in range(4)]],
        write,
        lambda work: _last_emission(spark, work, ("user_id", "s_us", "c_us", "p_us", "stage")),
    )
