"""C6 — incremental materialized aggregate view, registered + oracle-checked.

Generalizes the reference's cross-cycle state snapshot (main.py:97,135): an
unbounded event stream maintains a per-(user_id, event_type) aggregate view
where each micro-batch costs O(|batch keys|) — partial aggregate + MERGE —
never a recompute over history. The replay drives three time-ordered file
micro-batches through ``foreachBatch`` (``run_replay``); the view after the
final batch must hash-match a from-scratch groupBy over all events (the
DuckDB oracle). Doubles enter the stream as floor-micros so the maintained
sums are associative and the comparison is exact, not tolerance-based.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.agg_view import ParquetAggView
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_C6_ORACLE = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_micros,
       CAST(min(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS min_micros,
       CAST(max(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS max_micros
FROM events
GROUP BY user_id, event_type
"""


@register("c6_incremental_agg_view", oracle=_C6_ORACLE, tags=("C6", "streaming", "view"))
def c6_incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 3 micro-batches; MERGE each batch's partial aggregate
    into the persistent view; return the final view (minus bookkeeping)."""
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("value_micros"),
    )
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    def write(stream, work):
        view = ParquetAggView(spark, os.path.join(work, "view"))
        return stream.writeStream.foreachBatch(view.foreach_batch)

    def read(work):
        final = ParquetAggView(spark, os.path.join(work, "view")).current()
        if final is None:
            raise RuntimeError("stream produced no batches")
        return final.select(
            "user_id", "event_type", "n_events", "sum_micros", "min_micros", "max_micros"
        )

    return run_replay(spark, [tiles], write, read)
