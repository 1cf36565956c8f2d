"""Unit contract of streaming/replay: ``write_epoch_dirs`` writes one
single-file parquet dir per batch with mtimes strictly increasing with the
batch index (stamped AFTER each write, so write completion order can never
leak into replay order); ``run_replay`` folds N batches as N epochs in
order, resumes a later phase from the checkpoint, detaches its result and
removes its work dir on every path; and no streaming driver re-forks the
choreography ``run_replay`` owns."""

from __future__ import annotations

import glob
import os

import pytest

from realestatedeals_spark.streaming.replay import BASE_TS, STEP, run_replay, write_epoch_dirs

_PLANS = os.path.join(os.path.dirname(__file__), "..", "realestatedeals_spark", "plans")


def _mtimes(in_dir):
    out = {}
    for d in sorted(os.listdir(in_dir)):
        files = [f for f in os.listdir(os.path.join(in_dir, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)  # exactly one data file per batch
        out[d] = os.path.getmtime(os.path.join(in_dir, d, files[0]))
    return out

def test_write_epoch_dirs_orders_by_stamp_not_completion(spark, tmp_path):
    # deliberately unequal batch sizes: the big batch finishes LAST under
    # concurrent writes, but its stamp must still be the EARLIEST
    big = spark.range(0, 20000).selectExpr("id AS doc_id", "repeat('x', 50) AS text")
    small1 = spark.range(20000, 20010).selectExpr("id AS doc_id", "'a' AS text")
    small2 = spark.range(20010, 20020).selectExpr("id AS doc_id", "'b' AS text")
    # a one-row sentinel, passed as the last batch, replays last
    sentinel = spark.range(1).selectExpr("-1 AS doc_id", "'s' AS text")
    in_dir = str(tmp_path / "in")
    write_epoch_dirs(in_dir, [big, small1, small2, sentinel])

    mt = _mtimes(in_dir)
    assert sorted(mt) == ["b0", "b1", "b2", "b3"]
    assert mt["b0"] == BASE_TS
    assert mt["b1"] == BASE_TS + STEP
    assert mt["b2"] == BASE_TS + 2 * STEP
    assert mt["b0"] < mt["b1"] < mt["b2"] < mt["b3"]
    assert max(mt, key=mt.get) == "b3"

    # rows land in exactly the declared batch
    n0 = spark.read.parquet(in_dir + "/b0").count()
    assert n0 == 20000
    assert [r.doc_id for r in spark.read.parquet(in_dir + "/b3").collect()] == [-1]


def _batches(spark, n):
    return [spark.range(10 * i, 10 * i + i + 1).selectExpr("id AS k") for i in range(n)]


def _recording_fold(seen, work_box):
    def write(stream, work):
        work_box.append(work)

        def fold(batch_df, batch_id):
            visible = sorted(os.listdir(os.path.join(work, "in")))
            seen.append((batch_id, sorted(r.k for r in batch_df.collect()), visible))
            batch_df.write.mode("append").parquet(os.path.join(work, "out"))

        return stream.writeStream.foreachBatch(fold)

    return write


def test_run_replay_folds_batches_as_epochs_in_order(spark):
    seen, work_box = [], []
    out = run_replay(
        spark,
        [_batches(spark, 3)],
        _recording_fold(seen, work_box),
        lambda work: spark.read.parquet(os.path.join(work, "out")),
    )
    assert [(b, ks) for b, ks, _ in seen] == [
        (0, [0]),
        (1, [10, 11]),
        (2, [20, 21, 22]),
    ]
    # cleanup after a normal return; the result is still readable
    assert not os.path.exists(work_box[0])
    assert sorted(r.k for r in out.collect()) == [0, 10, 11, 20, 21, 22]


def test_run_replay_second_phase_resumes_from_checkpoint(spark):
    seen, work_box = [], []
    b = _batches(spark, 3)
    out = run_replay(
        spark,
        [b[:2], b[2:]],
        _recording_fold(seen, work_box),
        lambda work: spark.read.parquet(os.path.join(work, "out")),
    )
    # the held batch is invisible to the first start; the second start
    # resumes at batch id 2 and processes exactly the held batch (a start
    # from scratch would replay batch 0 again)
    assert seen == [
        (0, [0], ["b0", "b1"]),
        (1, [10, 11], ["b0", "b1"]),
        (2, [20, 21, 22], ["b0", "b1", "b2"]),
    ]
    assert out.count() == 6


def test_run_replay_cleans_up_when_the_fold_raises(spark):
    work_box = []

    def write(stream, work):
        work_box.append(work)

        def fold(batch_df, batch_id):
            raise RuntimeError("planted fold failure")

        return stream.writeStream.foreachBatch(fold)

    with pytest.raises(Exception, match="planted fold failure"):
        run_replay(spark, [_batches(spark, 2)], write, lambda work: None)
    assert not os.path.exists(work_box[0])


def test_run_replay_rejects_empty_batches(spark):
    def never(stream, work):
        raise AssertionError("no replay may start")

    for phases in ([], [[]], [_batches(spark, 1), []]):
        with pytest.raises(ValueError):
            run_replay(spark, phases, never, never)


def test_no_streaming_driver_reforks_the_replay():
    """A streaming driver goes through run_replay: no module under plans/
    named streaming_* may build its own stream, checkpoint or temp dir."""
    banned = ("readStream", "availableNow", "checkpointLocation", "mkdtemp")
    paths = sorted(glob.glob(os.path.join(_PLANS, "streaming_*.py")))
    assert paths
    offenders = [
        (os.path.basename(p), tok)
        for p in paths
        for tok in banned
        if tok in open(p).read()
    ]
    assert offenders == []
