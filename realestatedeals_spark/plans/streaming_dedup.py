"""Streaming exact dedup end-to-end as a registered, oracle-checked query.

``stream_dedup`` (streaming/windows.py — ``dropDuplicatesWithinWatermark``)
was previously exercised only by pytest; this registers a full replay
run: the events fixture is replayed as three time-ordered micro-batches with
deterministically injected duplicate rows — within a batch AND across batch
boundaries (the case that requires keyed state to survive between
micro-batches) — through the watermark dedup into a parquet sink. The
deduped emissions aggregate to exactly the original per-type event counts,
which is the DuckDB oracle.

The watermark here spans the whole fixture so no injected copy is ever
"late" and the oracle is exact; in production the watermark is the state
bound (state size = keys per watermark horizon) and copies arriving beyond
it are consciously out of dedup scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.windows import stream_dedup
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_C5_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


@register("c5_stream_dedup", oracle=_C5_ORACLE, tags=("C4", "X1", "streaming"))
def c5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 3 micro-batches with planted duplicates; the
    watermarked streaming dedup must emit each event exactly once."""
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    # three time-ordered tiles (deterministic total order); at scale this is
    # a range partition by time — exactly how a log replay arrives anyway
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    # planted duplicates: every 13th event repeats within its own batch;
    # every 7th event of the PREVIOUS batch repeats in the next, so
    # cross-batch state is what removes it
    batches = [t.unionAll(t.filter(F.col("event_id") % 13 == 0)) for t in tiles]
    for i in (1, 2):
        batches[i] = batches[i].unionAll(tiles[i - 1].filter(F.col("event_id") % 7 == 0))

    def write(stream, work):
        deduped = stream_dedup(stream, keys=["event_id"], watermark="3650 days")
        return deduped.writeStream.format("parquet").option("path", os.path.join(work, "out"))

    def read(work):
        emitted = spark.read.parquet(os.path.join(work, "out"))
        return emitted.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    return run_replay(spark, [batches], write, read)
