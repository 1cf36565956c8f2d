"""C14 — streaming into multi-table transactions, exactly-once.

Every micro-batch updates TWO tables atomically through the catalog
(io/catalog.py): the accumulated event facts AND their per-type aggregate
view publish under one manifest, so a reader joining facts to view can
never observe a batch applied to one side only — the cross-table variant
of the single-table exactly-once machinery in streaming/cdc_stream.py.

Exactly-once under foreachBatch redelivery: each manifest records the
epoch it applied; the sink skips any epoch <= ``applied_epoch()`` (crash
after catalog publish but before the streaming engine committed its
offset ⇒ redelivery is a no-op), and uses compare-and-swap publish
(``expected_latest``) so a torn writer can never interleave with the
skip check. Facts accumulate via union-of-previous-pin, which is
O(history) here for simplicity — the MoR insert path in
io/maintenance.py is the O(batch) production variant; the catalog
protocol is identical either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.catalog import Catalog
from realestatedeals_spark.io.sources import load_events
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay, time_tiles

_C14_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS value_micros
FROM events GROUP BY event_type
"""


def apply_batch(cat: Catalog, batch_df: DataFrame, epoch_id: int) -> bool:
    """One exactly-once multi-table transaction; returns False on the
    redelivery-skip path. Module-level so tests can drive redelivery
    directly."""
    applied = cat.applied_epoch()
    if applied is not None and epoch_id <= applied:
        return False  # redelivered batch: both tables already carry it
    latest = cat.latest_version()
    new_rows = batch_df.select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000000.0).cast("long").alias("value_micros"),
    )
    if latest is None:
        facts = new_rows
    else:
        facts = cat.read("facts", latest).unionByName(new_rows)
    view = facts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("value_micros").alias("value_micros"),
    )
    # localCheckpoint: both frames read the previous pin's files, which
    # stay live (catalog never deletes without expire), but pinning here
    # keeps the txn's inputs stable if a concurrent expire ran
    cat.commit(
        {"facts": facts.localCheckpoint(eager=True), "agg_view": view},
        expected_latest=latest,
        epoch=epoch_id,
    )
    return True


@register("c14_stream_catalog_txn", oracle=_C14_ORACLE, tags=("C14", "streaming", "catalog", "txn"))
def c14_stream_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events as 3 micro-batches, each committing facts + aggregate
    view atomically with its epoch recorded; the final catalog-pinned view
    must equal the all-data batch aggregate (the oracle). Redelivery
    idempotency is pinned in tests/test_catalog.py."""
    apply_session_conf(spark)
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    tiles = time_tiles(ev, 3)  # exact ntile membership, no unpartitioned window

    def write(stream, work):
        cat = Catalog(spark, os.path.join(work, "cat"))
        return stream.writeStream.foreachBatch(lambda bdf, eid: apply_batch(cat, bdf, eid))

    def read(work):
        return Catalog(spark, os.path.join(work, "cat")).read("agg_view").select(
            "event_type", "n_events", "n_users", "value_micros"
        )

    return run_replay(spark, [[t.drop("ts") for t in tiles]], write, read)
