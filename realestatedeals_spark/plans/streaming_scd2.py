"""C10 — incremental SCD Type-2 dimension maintenance as a streaming MERGE.

``e10_scd2_intervals`` builds the versioned dimension in one batch pass;
this is the production shape: a change feed arrives in micro-batches and
``foreachBatch`` MERGEs each into durable state — an append-only log of
CLOSED versions plus a compact OPEN-versions table (one row per entity),
both ``VersionedTable``s with the conflict-checked commit protocol
(io/maintenance.py). Per batch, only the AFFECTED entities are touched:

1. semi-join the open-versions table to the batch's entity keys; untouched
   opens pass through untouched (at 100 TB: only touched key-partitions
   rewritten, history log append-only),
2. replay each affected entity's open version as a seed pseudo-event in
   front of its new events, re-run the e10 change-detection window on that
   tiny union (consecutive equal states collapse — the SCD2 subtlety),
3. versions continue from the seed's counter; every change that gained a
   successor closes (valid_to = successor start) and appends to the log;
   each entity's last change becomes its new open row.

The final dimension (closed log ∪ opens) must be IDENTICAL to the batch
rebuild, so the query registers with e10's own hash-exact oracle — the
streaming MERGE and the batch window agree bit-for-bit, across batch
boundaries that split entities mid-history.

Ordered arrival per entity is assumed (the replay tiles by global event
time), matching a CDC feed's per-key ordering; ``funnel_progress_event_time``
shows the watermark-buffered alternative when that assumption fails.

Reference parity: the reference's poll loop keeps yesterday's listings
dict and diffs against it (reference main.py:97,135) — this is that diff
as durable, versioned, incrementally-maintained warehouse state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.maintenance import VersionedTable
from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.events import _SCD2_ORACLE, _TS_FMT_SPARK
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_OPENS_SCHEMA = (
    "user_id bigint, event_type string, valid_from timestamp, "
    "from_event_id bigint, version bigint"
)


def _merge_batch(batch: DataFrame, opens: DataFrame, spark: SparkSession):
    """One SCD2 MERGE step: returns (closed_new, opens_new)."""
    from pyspark.sql import Window as W

    affected = batch.select("user_id").distinct()
    touched = opens.join(affected, "user_id", "semi")
    untouched = opens.join(affected, "user_id", "anti")

    seeds = touched.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("ts"),
        F.col("from_event_id").alias("event_id"),
        "version",
        F.lit(True).alias("is_seed"),
    )
    incoming = batch.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lit(None).cast("long").alias("version"),
        F.lit(False).alias("is_seed"),
    )
    seq = seeds.unionByName(incoming)

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        seq.withColumn("prev_type", F.lag("event_type").over(wu))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    wc = W.partitionBy("user_id").orderBy("ts", "event_id")
    wall = W.partitionBy("user_id")
    stamped = (
        changes.withColumn("rn", F.row_number().over(wc))
        .withColumn("base", F.max(F.when(F.col("is_seed"), F.col("version"))).over(wall))
        .withColumn("has_seed", F.max(F.col("is_seed")).over(wall))
        .withColumn(
            "v",
            F.when(
                F.col("has_seed"),
                F.col("base") + F.col("rn") - F.lit(1),
            ).otherwise(F.col("rn").cast("long")),
        )
        .withColumn("valid_to", F.lead("ts").over(wc))
    )
    closed_new = stamped.filter(F.col("valid_to").isNotNull()).select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        "valid_to",
        F.col("v").alias("version"),
    )
    new_opens = stamped.filter(F.col("valid_to").isNull()).select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.col("event_id").alias("from_event_id"),
        F.col("v").alias("version"),
    )
    return closed_new, untouched.unionByName(new_opens)


def scd2_merge_step(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    closed_t: VersionedTable,
    opens_t: VersionedTable,
) -> bool:
    """One idempotent foreachBatch MERGE step. foreachBatch redelivers a
    batch when the process dies between the table commits and the
    streaming checkpoint — and replaying a batch against ALREADY-ADVANCED
    opens would forge spurious versions (an already-applied event sorting
    before its own seed looks like a change again). Each applied batch
    commits exactly one version to each table, so the opens table's
    version number IS the applied-batch watermark: batch k (0-based) is
    applied iff latest_version ≥ k+1, and a redelivered batch is skipped
    wholesale — the same monotone watermark c3's CDC loop uses. Returns
    True if the batch was applied, False if skipped."""
    applied = opens_t.latest_version() or 0
    if applied >= batch_id + 1:
        return False
    opens = (
        opens_t.read()
        if opens_t.latest_version() is not None
        else spark.createDataFrame([], _OPENS_SCHEMA)
    )
    closed_new, opens_new = _merge_batch(batch_df, opens, spark)
    prev_closed = closed_t.read() if closed_t.latest_version() is not None else None
    all_closed = (
        prev_closed.unionByName(closed_new) if prev_closed is not None else closed_new
    )
    # the two commits are not atomic: a crash between them leaves the
    # closed log one batch ahead of opens, and the redelivered batch
    # (opens watermark says "not applied") recomputes the SAME closed rows
    # from the unchanged opens — (user_id, version) is a stable key with
    # deterministic content, so deduplicating on it makes the torn-window
    # re-apply converge instead of double-appending history
    all_closed = all_closed.dropDuplicates(["user_id", "version"])
    closed_t.commit(all_closed, expected_latest=closed_t.latest_version())
    opens_t.commit(opens_new, expected_latest=opens_t.latest_version())
    return True


@register("c10_scd2_stream", oracle=_SCD2_ORACLE, tags=("C10", "streaming", "scd2", "merge"))
def c10_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the event change-feed as 3 time-ordered micro-batches and
    MERGE each into versioned warehouse state; return the maintained
    dimension (closed log ∪ opens), which must hash-match the one-pass
    batch rebuild's oracle exactly."""
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    def tables(work):
        return (
            VersionedTable(spark, os.path.join(work, "closed")),
            VersionedTable(spark, os.path.join(work, "opens")),
        )

    def write(stream, work):
        closed_t, opens_t = tables(work)
        return stream.writeStream.foreachBatch(
            lambda bdf, eid: scd2_merge_step(spark, bdf, eid, closed_t, opens_t)
        )

    def read(work):
        closed_t, opens_t = tables(work)
        closed = closed_t.read().select(
            "user_id",
            "event_type",
            F.date_format("valid_from", _TS_FMT_SPARK).alias("valid_from"),
            F.date_format("valid_to", _TS_FMT_SPARK).alias("valid_to"),
            "version",
            F.lit(False).alias("is_current"),
        )
        opens = opens_t.read().select(
            "user_id",
            "event_type",
            F.date_format("valid_from", _TS_FMT_SPARK).alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            "version",
            F.lit(True).alias("is_current"),
        )
        return closed.unionByName(opens)

    return run_replay(spark, [tiles], write, read)
