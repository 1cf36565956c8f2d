"""Streaming tests (SURVEY.md §5 item 4): CDC micro-batch loop with state
replacement, and event-time windows driven to completion via availableNow/
memory sinks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from realestatedeals_spark.streaming.cdc_stream import CdcState, process_cdc_batch
from realestatedeals_spark.streaming.replay import run_replay
from realestatedeals_spark.streaming.windows import session_windows, sliding_rates, tumbling_counts


def test_cdc_batches_sequence(spark, tmp_path):
    state = CdcState(spark, str(tmp_path / "state"))
    emit = str(tmp_path / "emit")

    b1 = spark.createDataFrame([("m1", 100.0), ("m2", 200.0)], ["mls", "price"])
    e1 = {r["mls"]: r["status"] for r in process_cdc_batch(b1, state, emit).collect()}
    assert e1 == {"m1": "new_listing", "m2": "new_listing"}

    # cycle 2: m1 unchanged (silent), m2 price change, m3 new, nothing off
    b2 = spark.createDataFrame([("m1", 100.0), ("m2", 250.0), ("m3", 50.0)], ["mls", "price"])
    e2 = {r["mls"]: r for r in process_cdc_batch(b2, state, emit).collect()}
    assert set(e2) == {"m2", "m3"}
    assert e2["m2"]["status"] == "price_change"
    assert abs(e2["m2"]["price_change_percentage"] - 25.0) < 1e-9
    assert e2["m3"]["status"] == "new_listing"

    # cycle 3: m1 vanishes → off_market and deleted from state (hunter.py:352)
    b3 = spark.createDataFrame([("m2", 250.0), ("m3", 50.0)], ["mls", "price"])
    e3 = {r["mls"]: r["status"] for r in process_cdc_batch(b3, state, emit).collect()}
    assert e3 == {"m1": "off_market"}
    assert {r["mls"] for r in state.load().collect()} == {"m2", "m3"}

    # emissions sink accumulated every cycle
    total = spark.read.parquet(emit).count()
    assert total == 2 + 2 + 1


def test_cdc_stream_wiring(spark):
    """End-to-end through an actual streaming query (file source →
    foreachBatch), drained with availableNow by run_replay."""
    b1 = spark.createDataFrame([("m1", 100.0), ("m2", 200.0)], ["mls", "price"])

    def write(stream, work):
        state = CdcState(spark, os.path.join(work, "state"))
        emit_dir = os.path.join(work, "emit")
        return stream.writeStream.foreachBatch(
            lambda bdf, eid: process_cdc_batch(bdf, state, emit_dir, epoch_id=eid)
        )

    emitted = run_replay(
        spark, [[b1]], write, lambda work: spark.read.parquet(os.path.join(work, "emit"))
    )
    assert emitted.filter(F.col("status") == "new_listing").count() == 2


def events_stream(spark, tmp_path):
    from realestatedeals_spark.io.sources import load_events

    src = load_events(spark, "/root/testdata/sf0.001").limit(500)
    d = str(tmp_path / "events_in")
    src.write.mode("overwrite").parquet(d)
    return spark.readStream.schema(src.schema).parquet(d), spark.read.parquet(d)


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    stream_df, batch_df = events_stream(spark, tmp_path)
    q = (
        tumbling_counts(stream_df)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tumb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from tumb").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling_counts(batch_df).collect()
    }
    # append mode only emits windows the watermark has closed; everything
    # emitted must match batch, and most windows must have closed
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) * 0.5


def test_streaming_session_and_sliding_run(spark, tmp_path):
    stream_df, batch_df = events_stream(spark, tmp_path)
    for i, builder in enumerate((sliding_rates, session_windows)):
        q = (
            builder(stream_df)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"w{i}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert spark.sql(f"select * from w{i}").count() >= 0
    # batch forms produce rows
    assert sliding_rates(batch_df).count() > 0
    assert session_windows(batch_df).count() > 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    import datetime as dt
    import os
    import time

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from realestatedeals_spark.streaming.windows import stream_dedup

    schema = StructType(
        [StructField("event_id", LongType()), StructField("ts", TimestampType())]
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    # batch 1: id 1 twice (in-batch dup) + id 2; batch 2 (newer mtime): id 1
    # again within the watermark horizon → must also be dropped
    spark.createDataFrame([(1, t0), (1, t0), (2, t0)], schema).coalesce(1).write.parquet(
        src + "/b1"
    )
    time.sleep(1.1)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5)), (3, t0 + dt.timedelta(minutes=5))], schema
    ).coalesce(1).write.parquet(src + "/b2")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        src + "/*"
    )

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        stream_dedup(stream, keys=["event_id"], watermark="30 minutes")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3], ids


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join (click→purchase within 30 min, both sides
    watermarked, time-range bound in the condition): every pair the
    streaming run emits must match the batch plan, and the inner-join
    append mode must emit the complete result under availableNow."""
    from realestatedeals_spark.streaming.windows import interval_join

    stream_df, batch_df = events_stream(spark, tmp_path)

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
        return clicks, purchases

    sc, sp = split(stream_df)
    bc, bp = split(batch_df)
    # 12h interval: the sf0.001 slice is too sparse for 30-minute pairs
    q = (
        interval_join(sc, sp, within="12 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (r["user_id"], r["l_ts"], r["r_ts"])
    got = {key(r): r["lag_seconds"] for r in spark.sql("select * from ssj").collect()}
    want = {key(r): r["lag_seconds"] for r in interval_join(bc, bp, within="12 hours").collect()}
    assert got == want
    assert want  # non-vacuous: the fixture slice must contain attributed pairs


def test_watermark_drops_post_eviction_late_rows(spark, tmp_path):
    """Certify the append-mode watermark guarantee at the row level: once
    the watermark has passed a window's end and the window was emitted +
    evicted, a later row targeting that window is DROPPED — the window is
    never resurrected or re-emitted. (Nuance, measured while writing this
    test: a late row arriving in the SAME batch that performs the eviction
    still merges — input merges before state cleanup within a batch — so
    the hard guarantee, and what this pins, is no-resurrection-after-
    emission, which is what exactly-once downstream consumers rely on.)"""
    import os
    import time as _time

    from pyspark.sql import functions as F

    base = int(_time.mktime((2024, 3, 1, 12, 0, 0, 0, 0, 0)))
    in_dir = tmp_path / "late_in"
    os.makedirs(in_dir)
    b1 = [(i, base + m * 60) for i, m in enumerate([0, 3, 9])]   # window w0
    b2 = [(50, base + 40 * 60)]   # advances watermark to minute 25
    b3 = [(60, base + 41 * 60)]   # processed AT wm 25: emits + evicts w0
    b4 = [(100, base + 5 * 60)]   # post-eviction late row for w0
    for i, data in enumerate((b1, b2, b3, b4), start=1):
        d = str(in_dir / f"b{i}")
        spark.createDataFrame(data, "event_id bigint, epoch bigint").select(
            "event_id", F.timestamp_seconds("epoch").alias("ts")
        ).coalesce(1).write.parquet(d)
        t = 1_700_000_000 + i * 10
        for fname in os.listdir(d):
            os.utime(os.path.join(d, fname), (t, t))

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    counts = (
        stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("ws"), "n")
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_evict")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_evict").collect()
    w0 = base - base % 600
    w0_rows = [r for r in rows if r["ws"] == w0]
    # exactly ONE emission, with exactly the pre-eviction count — the late
    # row neither re-opened the window nor produced a duplicate emission
    assert [r["n"] for r in w0_rows] == [3], rows


def test_torn_batch_crash_redelivery_exactly_once(spark, tmp_path):
    """Chaos: the driver dies AFTER the sink applied a micro-batch but BEFORE
    the streaming checkpoint committed the epoch — the classic torn batch.
    On restart Spark redelivers that batch from the checkpointed offsets; the
    view's last_batch_id idempotency guard must swallow the redelivery so the
    final state is exactly-once (equal to a from-scratch batch aggregate).

    (Checkpoint *recovery* is covered in test_stateful.py; this pins the
    mid-stream torn-batch redelivery path.)
    """
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from realestatedeals_spark.streaming.agg_view import ParquetAggView

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    rows = [(i, i % 4, "t" if i % 2 else "u", (i * 37) % 101 - 50) for i in range(60)]
    schema = "event_id bigint, user_id bigint, event_type string, value_micros bigint"
    all_df = spark.createDataFrame(rows, schema)
    for b in range(3):
        d = os.path.join(in_dir, f"b{b}")
        spark.createDataFrame(rows[b * 20 : (b + 1) * 20], schema).coalesce(1).write.parquet(d)
        for fname in os.listdir(d):
            t = 1_700_000_000 + b * 10
            os.utime(os.path.join(d, fname), (t, t))

    view = ParquetAggView(spark, str(tmp_path / "view"))
    crashed = {"fired": False}

    def fb(batch_df, batch_id):
        view.foreach_batch(batch_df, batch_id)  # sink write lands...
        if batch_id == 1 and not crashed["fired"]:
            crashed["fired"] = True
            raise RuntimeError("chaos: crash before epoch commit")  # ...epoch doesn't

    def run():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir + "/*")
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException, match="chaos"):
        run().awaitTermination()
    assert view.gen == 2  # batches 0 and 1 applied; epoch 1 uncommitted
    run().awaitTermination()  # restart: batch 1 redelivered, then batch 2
    assert crashed["fired"]

    got = {
        (r.user_id, r.event_type): (r.n_events, r.sum_micros, r.min_micros, r.max_micros)
        for r in view.current().collect()
    }
    want = {
        (r.user_id, r.event_type): (r.n_events, r.sum_micros, r.min_micros, r.max_micros)
        for r in all_df.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_micros").alias("sum_micros"),
            F.min("value_micros").alias("min_micros"),
            F.max("value_micros").alias("max_micros"),
        )
        .collect()
    }
    assert got == want  # exactly-once: no double-applied batch 1


def test_cdc_torn_batch_both_crash_sides_exactly_once(spark, tmp_path):
    """C3 chaos: tear the CDC batch on BOTH sides of the state swap and
    assert the emission log is exactly-once either way.

    Side A (crash after emissions written, before state swap): redelivery
    recomputes the same emissions against the unswapped state and
    OVERWRITES the same epoch directory — no duplicates.
    Side B (crash after state swap, before the engine's epoch commit): the
    epoch marker inside the swapped snapshot says 'already applied' and the
    redelivery is a no-op.
    """
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from realestatedeals_spark.streaming.cdc_stream import CdcState, process_cdc_batch

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    cycles = [
        [(1, 100.0), (2, 200.0)],            # b0: both new
        [(1, 150.0), (2, 200.0), (3, 50.0)], # b1: price change + new
        [(2, 200.0), (3, 50.0)],             # b2: m1 off_market
    ]
    for i, rows in enumerate(cycles):
        d = os.path.join(in_dir, f"c{i}")
        spark.createDataFrame(rows, "mls bigint, price double").coalesce(1).write.parquet(d)
        for fname in os.listdir(d):
            t = 1_700_000_000 + i * 10
            os.utime(os.path.join(d, fname), (t, t))

    state = CdcState(spark, str(tmp_path / "state"))
    emit_dir = str(tmp_path / "emit")
    crashes = {"A": False, "B": False}

    # The streaming path stages the snapshot concurrently with the
    # emissions write and only then publishes (the swap) — so "crash
    # before the state swap" injects at publish(), the rename that makes
    # the new snapshot + epoch marker visible. (It was replace() before
    # the stage/publish split; bombing replace would no longer fire on
    # the streaming path at all.) NOTE: the injected failure must be a
    # plain Exception raised OUT of the handler — a BaseException (e.g.
    # pytest's Failed from a non-firing raises block) escaping a
    # foreachBatch callback breaks the py4j callback protocol and hangs
    # awaitTermination forever instead of failing the query.
    real_publish = CdcState.publish

    def handle(batch_df, epoch_id):
        if epoch_id == 1 and not crashes["A"]:
            # crash INSIDE the batch: emissions written (and the next
            # snapshot staged invisibly), swap never runs
            crashes["A"] = True

            def bomb(self):
                raise RuntimeError("chaos-A: died before state swap")

            CdcState.publish = bomb
            try:
                with pytest.raises(RuntimeError, match="chaos-A"):
                    process_cdc_batch(batch_df, state, emit_dir, epoch_id=epoch_id)
            finally:
                CdcState.publish = real_publish
            raise RuntimeError("chaos-A: batch failed")
        process_cdc_batch(batch_df, state, emit_dir, epoch_id=epoch_id)
        if epoch_id == 2 and not crashes["B"]:
            crashes["B"] = True
            raise RuntimeError("chaos-B: died after swap, before epoch commit")

    def run():
        return (
            spark.readStream.schema("mls bigint, price double")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir + "/*")
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException, match="chaos-A"):
        run().awaitTermination()
    assert state.applied_epoch() == 0  # swap for epoch 1 never happened
    with pytest.raises(StreamingQueryException, match="chaos-B"):
        run().awaitTermination()
    assert state.applied_epoch() == 2  # swap happened; commit didn't
    run().awaitTermination()  # final restart: epoch 2 redelivered, skipped
    assert crashes == {"A": True, "B": True}

    got = sorted(
        (r.mls, r.status)
        for r in spark.read.parquet(emit_dir).select("mls", "status").collect()
    )
    assert got == [
        (1, "new_listing"),
        (1, "price_change"),
        (1, "off_market"),
        (2, "new_listing"),
        (3, "new_listing"),
    ] or got == sorted(
        [(1, "new_listing"), (2, "new_listing"), (1, "price_change"),
         (3, "new_listing"), (1, "off_market")]
    )
    # state converged to the last cycle
    assert {r.mls for r in state.load().collect()} == {2, 3}


def test_cdc_decimal_price_schema_consistent(spark, tmp_path):
    """ADVICE round 6: the redelivery-skip empty frame used to hardcode
    `old_price double, new_price double` — a decimal price column diverged
    from classify_cdc's real emission schema on the first skipped epoch.
    All three emission paths (first batch, steady-state classify, and the
    redelivery skip) must now produce the SAME schema, derived from the
    batch itself, for a non-double price column."""
    from decimal import Decimal

    state = CdcState(spark, str(tmp_path / "state"))
    emit = str(tmp_path / "emit")

    def batch(rows):
        return spark.createDataFrame(rows, "mls string, price decimal(12,2)")

    b1 = batch([("m1", Decimal("100.00")), ("m2", Decimal("200.00"))])
    e1 = process_cdc_batch(b1, state, emit, epoch_id=0)
    assert {r["mls"]: r["status"] for r in e1.collect()} == {
        "m1": "new_listing",
        "m2": "new_listing",
    }

    b2 = batch([("m1", Decimal("100.00")), ("m2", Decimal("250.00"))])
    e2 = process_cdc_batch(b2, state, emit, epoch_id=1)
    rows2 = {r["mls"]: r for r in e2.collect()}
    assert rows2["m2"]["status"] == "price_change"

    # redelivery of the already-applied epoch 1: empty, SAME schema
    e_skip = process_cdc_batch(b2, state, emit, epoch_id=1)
    assert e_skip.count() == 0
    assert e_skip.schema == e2.schema == e1.schema, (
        f"skip={e_skip.schema.simpleString()} "
        f"steady={e2.schema.simpleString()} first={e1.schema.simpleString()}"
    )
    # price columns carry the decimal type through, not a silent double cast
    dt = dict((f.name, f.dataType.simpleString()) for f in e_skip.schema.fields)
    assert dt["old_price"] == dt["new_price"] == "decimal(12,2)", dt
    # the emissions sink holds a single consistent schema across epochs
    assert spark.read.parquet(emit).count() == 3


def test_stream_stream_left_outer_join_matches_batch(spark, tmp_path):
    """LEFT OUTER stream-stream join (click abandonment): matched rows
    stream out immediately; NULL-padded unmatched rows may only be emitted
    once the watermark proves no purchase can still arrive. A far-future
    sentinel click + purchase (distinct users, never matching anything)
    advances both sides' watermarks so every real click flushes; the
    streaming result must then equal the batch plan row-for-row."""
    import datetime as dt

    from realestatedeals_spark.streaming.windows import interval_join_outer

    stream_df, batch_df = events_stream(spark, tmp_path)
    max_ts = batch_df.agg(F.max("ts")).collect()[0][0]
    far = max_ts + dt.timedelta(days=2)
    sent = spark.createDataFrame(
        [(999999, far, 0.0, "click"), (888888, far, 0.0, "purchase")],
        "user_id long, ts timestamp, value double, event_type string",
    )
    def split(df):
        c = df.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
        p = df.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
        return c, p

    # streaming input = real events ∪ sentinel (read from both dirs)
    src_dir = str(tmp_path / "events_in")
    sent.coalesce(1).write.mode("append").parquet(src_dir)
    stream_all = spark.readStream.schema(batch_df.schema).parquet(src_dir)
    sc, sp = split(stream_all)
    q = (
        interval_join_outer(sc, sp, within="12 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssoj")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (r["user_id"], r["l_ts"], r["r_ts"])
    got = {
        key(r): (r["lag_seconds"], r["matched"])
        for r in spark.sql("select * from ssoj where user_id < 900000").collect()
    }
    bc, bp = split(batch_df)
    want = {
        key(r): (r["lag_seconds"], r["matched"])
        for r in interval_join_outer(bc, bp, within="12 hours").collect()
    }
    assert got == want
    # non-vacuous both ways: the fixture must contain matches AND abandons
    assert any(m for _, m in want.values()) and any(not m for _, m in want.values())


def test_scd2_merge_batch_unit_semantics(spark):
    """Hand-built MERGE step: extend-without-change is a no-op, a changed
    type closes the open with the original valid_from, untouched entities
    pass through, and new entities start at version 1."""
    import datetime as dt

    from realestatedeals_spark.plans.streaming_scd2 import _OPENS_SCHEMA, _merge_batch

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    opens = spark.createDataFrame(
        [
            (1, "click", t(0), 10, 3),   # will be extended (same type) then closed
            (2, "view", t(0), 11, 7),    # untouched this batch
        ],
        _OPENS_SCHEMA,
    )
    batch = spark.createDataFrame(
        [
            (1, "click", t(5), 20),      # no-op: same type as open v3
            (1, "purchase", t(9), 21),   # closes v3, opens v4
            (3, "view", t(2), 22),       # brand-new entity: v1
        ],
        "user_id bigint, event_type string, ts timestamp, event_id bigint",
    )
    closed, opens_new = _merge_batch(batch, opens, spark)
    closed_rows = {(r["user_id"], r["version"]): r for r in closed.collect()}
    assert set(closed_rows) == {(1, 3)}
    # valid_from is the OPEN's original start, not the batch's first event
    assert closed_rows[(1, 3)]["valid_from"] == t(0)
    assert closed_rows[(1, 3)]["valid_to"] == t(9)
    o = {r["user_id"]: r for r in opens_new.collect()}
    assert o[1]["event_type"] == "purchase" and o[1]["version"] == 4
    assert o[2]["event_type"] == "view" and o[2]["version"] == 7  # untouched
    assert o[3]["event_type"] == "view" and o[3]["version"] == 1  # new entity


def test_scd2_stream_equals_batch_rebuild(spark):
    """The maintained dimension (3-batch streaming MERGE) must equal the
    one-pass batch window rebuild row-for-row at sf0.001."""
    from realestatedeals_spark.plans.events import e10_scd2_intervals
    from realestatedeals_spark.plans.streaming_scd2 import c10_scd2_stream

    key = lambda r: (r["user_id"], r["version"])
    got = {key(r): tuple(r) for r in c10_scd2_stream(spark, "/root/testdata/sf0.001").collect()}
    want = {key(r): tuple(r) for r in e10_scd2_intervals(spark, "/root/testdata/sf0.001").collect()}
    assert got == want and want


def test_scd2_merge_step_skips_redelivered_batches(spark, tmp_path):
    """foreachBatch redelivery (crash between commit and checkpoint) must
    not double-apply: replaying an applied batch against the advanced
    opens table would forge spurious versions. The opens version number is
    the applied-batch watermark — redelivered batches skip wholesale and
    the dimension is byte-identical before/after the replay."""
    import datetime as dt

    from realestatedeals_spark.io.maintenance import VersionedTable
    from realestatedeals_spark.plans.streaming_scd2 import scd2_merge_step

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    closed_t = VersionedTable(spark, str(tmp_path / "closed"))
    opens_t = VersionedTable(spark, str(tmp_path / "opens"))
    schema = "user_id bigint, event_type string, ts timestamp, event_id bigint"
    b0 = spark.createDataFrame([(1, "view", t(0), 1), (1, "click", t(2), 2)], schema)
    b1 = spark.createDataFrame([(1, "purchase", t(5), 3)], schema)

    assert scd2_merge_step(spark, b0, 0, closed_t, opens_t) is True
    snap = sorted(map(tuple, opens_t.read().collect()))
    # redeliver batch 0 → skipped, nothing changes
    assert scd2_merge_step(spark, b0, 0, closed_t, opens_t) is False
    assert sorted(map(tuple, opens_t.read().collect())) == snap
    assert closed_t.latest_version() == 1 and opens_t.latest_version() == 1

    assert scd2_merge_step(spark, b1, 1, closed_t, opens_t) is True
    # stale redelivery of batch 0 after batch 1 → still skipped
    assert scd2_merge_step(spark, b0, 0, closed_t, opens_t) is False
    final = {(r["user_id"], r["version"]): r["event_type"] for r in opens_t.read().collect()}
    assert final == {(1, 3): "purchase"}
    closed = {(r["version"]): r["event_type"] for r in closed_t.read().collect()}
    assert closed == {1: "view", 2: "click"}


def test_scd2_merge_step_survives_torn_commit_window(spark, tmp_path):
    """Crash BETWEEN the closed-log commit and the opens commit, then
    redeliver: the opens watermark says 'not applied', the batch re-runs,
    and the recomputed closed rows (same key, same content) must converge
    via (user_id, version) dedup instead of double-appending history."""
    import datetime as dt

    from realestatedeals_spark.io.maintenance import VersionedTable
    from realestatedeals_spark.plans.streaming_scd2 import scd2_merge_step

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    closed_t = VersionedTable(spark, str(tmp_path / "closed"))
    opens_t = VersionedTable(spark, str(tmp_path / "opens"))
    schema = "user_id bigint, event_type string, ts timestamp, event_id bigint"
    b0 = spark.createDataFrame(
        [(1, "view", t(0), 1), (1, "click", t(2), 2), (1, "purchase", t(4), 3)], schema
    )

    # simulate the torn window: apply the batch, then roll the OPENS table
    # back (as if the process died after the closed commit)
    assert scd2_merge_step(spark, b0, 0, closed_t, opens_t) is True
    import shutil as _sh

    _sh.rmtree(str(tmp_path / "opens"))
    opens_t2 = VersionedTable(spark, str(tmp_path / "opens"))
    assert closed_t.latest_version() == 1 and opens_t2.latest_version() is None

    # redelivery re-applies against the torn state and must converge
    assert scd2_merge_step(spark, b0, 0, closed_t, opens_t2) is True
    closed = [(r["user_id"], r["version"], r["event_type"]) for r in closed_t.read().collect()]
    assert sorted(closed) == [(1, 1, "view"), (1, 2, "click")]  # no duplicates
    o = {(r["user_id"], r["version"]): r["event_type"] for r in opens_t2.read().collect()}
    assert o == {(1, 3): "purchase"}
