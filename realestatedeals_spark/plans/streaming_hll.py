"""C18 — STREAMING HLL register state: the per-source distinct-content
sketch (plans/llm_profile.py:x6_hll_arith_state) maintained as documents
ARRIVE.

Every micro-batch hashes just its own documents into (source, bucket, rho)
register contributions and folds them into the catalog-pinned ``registers``
table exactly-once (epoch + CAS, the c14/c15/c17 protocol). The fold is a
union + groupBy-MAX — the HLL merge operator itself, which is associative
AND idempotent, so the pinned state is bounded by sources × 256 registers
regardless of corpus size, and a replayed contribution can never inflate it
(max is a no-op on repeats — the sketch family's native at-least-once
tolerance, on top of the exactly-once epoch skip).

After the replay the state (plus the merged '__global__'
rollup computed from it) must hash-match the BATCH query's oracle
bit-for-bit. This is the 100 TB profiling shape: documents stream in, the
distinct-count sketch for every source is always current, and any rollup
(global, per-day if keyed so) is one bounded merge over register states —
never a re-scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.catalog import Catalog
from realestatedeals_spark.io.sources import load_table
from realestatedeals_spark.plans.llm_profile import _X6_HLL_ARITH_ORACLE
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay


def apply_hll_batch(cat: Catalog, batch_df: DataFrame, epoch_id: int) -> bool:
    """Fold one micro-batch's register contributions into the pinned
    state, exactly-once; returns False on the redelivery-skip path."""
    from realestatedeals_spark.operators.sketches import hll_arith_registers

    applied = cat.applied_epoch()
    if applied is not None and epoch_id <= applied:
        return False
    latest = cat.latest_version()
    regs = hll_arith_registers(batch_df, "source", "text").withColumnRenamed(
        "tag", "source"
    )
    if latest is not None:
        regs = (
            cat.read("registers", latest)
            .unionByName(regs)
            .groupBy("source", "bucket")
            .agg(F.max("register").alias("register"))
        )
    # No localCheckpoint (round 12, same as the c15/c17 folds): the fold
    # reads the previous pinned version's files and the commit's parquet
    # write materializes it exactly once.
    cat.commit({"registers": regs}, expected_latest=latest, epoch=epoch_id)
    return True


@register(
    "c18_stream_hll_state",
    oracle=_X6_HLL_ARITH_ORACLE,
    tags=("C18", "streaming", "sketch", "profile"),
)
def c18_stream_hll_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the corpus as 3 micro-batches, folding each batch's HLL
    register contributions into the catalog exactly-once; the final state
    + its merged '__global__' rollup must hash-match the batch
    x6_hll_arith_state oracle. Redelivery idempotency (and max's
    at-least-once tolerance on top) is pinned in
    tests/test_streaming_hll.py."""
    apply_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def write(stream, work):
        cat = Catalog(spark, os.path.join(work, "cat"))
        return stream.writeStream.foreachBatch(lambda bdf, eid: apply_hll_batch(cat, bdf, eid))

    def read(work):
        state = Catalog(spark, os.path.join(work, "cat")).read("registers")
        merged = (
            state.groupBy("bucket")
            .agg(F.max("register").alias("register"))
            .select(F.lit("__global__").alias("source"), "bucket", "register")
        )
        return state.unionByName(merged)

    # pmod, not %: Java remainder is negative for negative ids, which would
    # drop such rows from EVERY batch (exactly-one-batch coverage is what
    # the stream-vs-batch oracle match relies on).
    batches = [docs.filter(F.pmod(F.col("doc_id"), 3) == i) for i in (0, 1, 2)]
    return run_replay(spark, [batches], write, read)
