"""Streaming Markov transition matrix (C13): e30's batch semantics as
cross-batch keyed state.

A stateless per-batch LEAD misses exactly one transition per user per
micro-batch boundary; ``transition_deltas`` (streaming/stateful.py) keeps
each user's last event type in the state store so the boundary pairs are
counted once. The replay drives three time-tiled micro-batches through
``run_replay``, the emitted deltas groupBy-sum into counts, and the final
row-normalization matches the batch e30 oracle hash-exactly — proof the
incremental formulation converges to the batch answer.

Scale: state is one string per user; emissions are (from, to, n) deltas —
mergeable, so the downstream matrix is an incremental view, never a rescan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.events import _E30_TRANSITIONS_ORACLE
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.stateful import transition_deltas
from realestatedeals_spark.streaming.replay import run_replay, time_tiles


@register(
    "c13_stream_transition_matrix",
    oracle=_E30_TRANSITIONS_ORACLE,
    tags=("C13", "streaming", "state", "markov"),
)
def c13_stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 3 time-tiled micro-batches through the stateful
    transition counter; summed deltas + one normalization window must
    hash-match the batch LEAD formulation (e30's oracle verbatim)."""
    from pyspark.sql import Window as W

    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    def write(stream, work):
        out_dir = os.path.join(work, "out")
        return (
            transition_deltas(stream)
            .writeStream.foreachBatch(
                lambda bdf, eid: bdf.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
        )

    def read(work):
        deltas = spark.read.parquet(os.path.join(work, "out"))
        c = deltas.groupBy("from_type", "to_type").agg(F.sum("n").alias("n"))
        wt = W.partitionBy("from_type")
        return c.select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(wt).cast("double")).alias(
                "prob"
            ),
        )

    return run_replay(spark, [tiles], write, read)
