"""Streaming CDC — the reference's poll loop (main.py:107-142) as Structured
Streaming (SURVEY.md §2a.6 C3/C4).

Reference semantics per cycle: scrape all zips → diff against
``currentListings`` (dict keyed on mls) → emit new/price_change/off_market →
replace state with this cycle's listings (off-market keys deleted,
hunter.py:352) → checkpoint state to JSON (main.py:135).

Spark shape: each micro-batch is one full scrape sweep; ``foreachBatch``
runs the same full-outer CDC join used in batch (operators.cdc), appends the
emission rows to a sink table, and atomically replaces the keyed snapshot
(parquet; Delta MERGE would be the managed-table variant — Delta jars are not
in this image, so the snapshot is swap-on-write parquet, which gives the same
replace semantics the reference has).

Scale: the snapshot is partitioned by key hash on write so the CDC join at
the next batch shuffles both sides on the same key layout; AQE broadcasts
the scrape side when a batch is small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.operators.cdc import classify_cdc, next_snapshot


class CdcState:
    """Keyed snapshot persisted as swap-on-write parquet.

    The applied-epoch marker travels INSIDE the snapshot directory, so the
    swap rename publishes state + marker as one atomic unit — the guard the
    torn-batch redelivery test leans on (a crash between "emissions
    written" and "state swapped" must leave the marker at the OLD epoch so
    the redelivered batch recomputes identical emissions against the old
    snapshot)."""

    def __init__(self, spark: SparkSession, state_dir: str, key: str = "mls", price: str = "price"):
        self.spark = spark
        self.state_dir = state_dir
        self.key = key
        self.price = price

    def _cur(self) -> str | None:
        """Current snapshot dir, falling back to the pre-swap copy if a
        crash landed between the two swap renames."""
        cur = os.path.join(self.state_dir, "current")
        if os.path.exists(cur):
            return cur
        old = os.path.join(self.state_dir, "_old")
        return old if os.path.exists(old) else None

    def load(self) -> DataFrame | None:
        cur = self._cur()
        if cur is None:
            return None
        # schema sidecar (round 12): bare parquet reads pay a footer-read
        # inference job per call, once per epoch here — the writer knows
        # the schema, so it travels with the snapshot (underscore files
        # are invisible to Spark's scan)
        sidecar = os.path.join(cur, "_schema.json")
        if os.path.exists(sidecar):
            import json

            from pyspark.sql import types as T

            with open(sidecar) as f:
                return self.spark.read.schema(
                    T.StructType.fromJson(json.load(f))
                ).parquet(cur)
        return self.spark.read.parquet(cur)

    def applied_epoch(self) -> int | None:
        """Epoch id of the last fully applied batch (None before the first
        epoch-stamped swap)."""
        cur = self._cur()
        if cur is None:
            return None
        marker = os.path.join(cur, "_epoch")
        if not os.path.exists(marker):
            return None
        return int(open(marker).read().strip())

    def replace(self, snapshot: DataFrame, epoch_id: int | None = None) -> None:
        """Swap-on-write with crash recovery: stale staging/backup dirs from
        a prior crash are cleared at entry, and ``load()`` falls back to the
        backup during the (documented, non-atomic) two-rename window. On a
        real cluster this is a Delta/Iceberg transactional overwrite."""
        import shutil

        self.stage(snapshot, epoch_id)
        self.publish()

    def stage(self, snapshot: DataFrame, epoch_id: int | None = None) -> None:
        """Write the next snapshot into the staging dir (``_next``). Not
        visible to readers until ``publish`` swaps it in — so staging can
        safely OVERLAP other work of the same batch (the emissions write:
        the two plans share no files and the swap happens strictly after
        both — round 12, guide §2.6)."""
        import shutil

        nxt = os.path.join(self.state_dir, "_next")
        if os.path.exists(nxt):
            shutil.rmtree(nxt)
        snapshot.write.mode("overwrite").parquet(nxt)
        with open(os.path.join(nxt, "_schema.json"), "w") as f:
            f.write(snapshot.schema.json())
        if epoch_id is not None:
            with open(os.path.join(nxt, "_epoch"), "w") as f:
                f.write(str(epoch_id))

    def publish(self) -> None:
        """Swap the staged snapshot in (the documented two-rename window
        with crash recovery)."""
        import shutil

        cur = os.path.join(self.state_dir, "current")
        nxt = os.path.join(self.state_dir, "_next")
        old = os.path.join(self.state_dir, "_old")
        if not os.path.exists(cur) and os.path.exists(old):
            os.rename(old, cur)  # recover: crash landed mid-swap last time
        elif os.path.exists(old):
            shutil.rmtree(old)  # stale backup from a crash after the swap
        if os.path.exists(cur):
            os.rename(cur, old)
        os.rename(nxt, cur)
        if os.path.exists(old):
            shutil.rmtree(old)


def _nullable(schema):
    """The schema with every top-level field nullable — what a parquet
    re-read of the same rows surfaces."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


def process_cdc_batch(
    scrape: DataFrame, state: CdcState, emit_dir: str, epoch_id: int | None = None
) -> DataFrame:
    """One micro-batch: classify vs state, write emissions, replace state.

    Returns the emissions DataFrame (also written to ``emit_dir``).

    Exactly-once under torn-batch redelivery (``epoch_id`` given, the
    streaming path): emissions land in ``emit_dir/epoch=<id>`` with
    OVERWRITE semantics and the state swap carries the epoch marker
    atomically, so whichever side of the crash the batch tore on, the
    redelivery either (a) recomputes bit-identical emissions against the
    unswapped state and overwrites the same epoch directory, or (b) sees
    the marker already advanced and skips entirely. With ``epoch_id=None``
    (direct batch use) emissions append flat, as before.
    """
    applied = state.applied_epoch()
    if epoch_id is not None and applied is not None and epoch_id <= applied:
        # redelivery of a fully-applied batch (crash after swap, before
        # the streaming engine committed the epoch): everything is on disk.
        # The empty frame is derived from classify_cdc's ACTUAL plan on the
        # batch's own schema — never a hardcoded DDL string, which would
        # silently diverge (e.g. decimal price columns) from the real
        # emission schema on the first skipped epoch (ADVICE round 6).
        empty = next_snapshot(scrape, state.key).limit(0)
        skip = classify_cdc(empty, empty, key=state.key, price=state.price)
        # The frame is empty by construction; materialize it as an empty
        # DataFrame over classify_cdc's ACTUAL plan schema (never a
        # hardcoded DDL string — ADVICE round 6) relaxed to all-nullable,
        # the same schema the steady epoch path returns (a parquet re-read —
        # file sources surface every column nullable), so the two paths
        # stay schema-identical (pinned in tests/test_streaming.py).
        return state.spark.createDataFrame([], _nullable(skip.schema))
    snapshot = state.load()
    scraped = next_snapshot(scrape, state.key)
    if snapshot is None:
        # first batch: classify against an EMPTY snapshot of the scrape's
        # own schema — every row classifies new_listing through the same
        # plan (and therefore the same output dtypes) as every later batch
        snapshot = scraped.limit(0)
    emissions = classify_cdc(scraped, snapshot, key=state.key, price=state.price)
    # The emission plan reads the snapshot files that replace() is about to
    # rename, so the RETURNED frame must not depend on them. Streaming path
    # (round 12): the epoch-dir write already materializes the emissions —
    # return a self-contained re-read of those files instead of paying an
    # eager localCheckpoint (a full extra materialization per epoch, with
    # blocks left in executor storage). Batch path appends flat (the write
    # cannot serve as the return frame), so it keeps the checkpoint pin.
    if epoch_id is None:
        emissions = emissions.localCheckpoint(eager=True)
        emissions.write.mode("append").parquet(emit_dir)
        state.replace(scraped, epoch_id)
    else:
        # Stage the next snapshot CONCURRENTLY with the emissions write
        # (guide §2.6): the two plans are independent (emissions read the
        # current state + batch; the staged snapshot reads only the batch),
        # and the swap publishes strictly after both land — crash semantics
        # unchanged (an orphaned _next is cleared on the next stage()).
        from concurrent.futures import ThreadPoolExecutor

        ep_dir = os.path.join(emit_dir, f"epoch={epoch_id}")
        schema = _nullable(emissions.schema)
        with ThreadPoolExecutor(max_workers=1) as pool:
            staged = pool.submit(state.stage, scraped, epoch_id)
            emissions.write.mode("overwrite").parquet(ep_dir)
            staged.result()
        emissions = state.spark.read.schema(schema).parquet(ep_dir)
        state.publish()
    return emissions

