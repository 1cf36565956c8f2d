"""The one driver behind every streaming query in the registry.

Each streaming twin replays a deterministic sequence of micro-batches
through a real Structured Streaming query. ``run_replay`` owns all of that
machinery, so a driver states only what is its own: its batch frames, its
fold or sink, and how it reads its result.

``run_replay(spark, phases, write, read)`` contract:

- **Phases.** ``phases`` is a non-empty list of non-empty lists of batch
  frames. Every batch is one micro-batch (one parquet file under
  ``maxFilesPerTrigger=1``), replayed in list order, so the batch ids run
  0..N-1 across all phases. Each phase is drained by a fresh ``start``
  from the SAME checkpoint (``availableNow``, then ``awaitTermination``);
  a phase's batches become visible only when its start begins. One phase
  is the common case; a second phase replays a checkpoint restart (c3).
  A watermark sentinel (c7, c11) is just the last batch.
- **Fixture.** The batches of all phases are written by ONE Spark job
  before the first start (``write_epoch_dirs``). The stream's schema is
  the batch frames' own schema.
- **Writer callback.** ``write(stream, work)`` turns the stream into a
  ``DataStreamWriter``: ``foreachBatch(fold)``, or a file sink with an
  output mode. It is called once; ``run_replay`` adds the checkpoint and
  the trigger. Any state the fold keeps goes under the work dir ``work``
  (the names ``fixture``, ``in`` and ``ckpt`` there are taken).
- **Detach.** ``read(work)`` returns the result frame, which may still
  read files under ``work``; ``run_replay`` pins it with an eager
  ``localCheckpoint`` before cleanup, so the returned frame owns its rows.
  The other form, ``createDataFrame(collect())``, round-trips every row
  through the Python driver: on the ``stream_ingest`` benchmark (4 cores)
  it took c3 and c17 from 0.13–0.16 s to 0.41–0.46 s of execute each, and
  the pass from ~7 s to ~10 s.
- **Cleanup.** The work dir is removed on every path. An error raised by
  the writer callback, the fold or ``read`` propagates after cleanup.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

BASE_TS = 1_700_000_000
STEP = 10


def _epoch_dir(i: int) -> str:
    return f"b{i}"


def time_tiles(
    df: DataFrame, n_tiles: int, order_cols: tuple[str, ...] = ("ts", "event_id")
) -> list[DataFrame]:
    """Split ``df`` into ``n_tiles`` contiguous, row-count-balanced tiles
    under ``order_cols`` — EXACTLY ``ntile(n_tiles) OVER (ORDER BY ...)``
    membership — without the ordered-but-unpartitioned window the naive
    fixture form used (a single-partition sort of the full events table,
    re-run once per tile filter).

    Plan: global_rank the NARROW order-key frame (range partition +
    parallel rank), collect the n_tiles−1 boundary composite keys (the
    driver receives n−1 ROWS, not data), and split the original frame by
    lexicographic comparison against them — each tile is a plain filter
    over the source, no window, no global sort. ntile's uneven-split
    arithmetic (first ``n % tiles`` tiles get one extra row) is reproduced
    exactly, so batch membership — and therefore every replay oracle — is
    unchanged.

    Timestamp order columns are compared through ``unix_micros`` (order-
    isomorphic), never as collected naive datetimes, so a DST-fold
    boundary row cannot flake under a hostile session timezone.
    """
    from realestatedeals_spark.operators.ranking import free_rank_pin, global_rank

    def keyed(c: str) -> Column:
        if isinstance(df.schema[c].dataType, T.TimestampType):
            return F.unix_micros(F.col(c))
        return F.col(c)

    kcols = [f"_k{i}" for i in range(len(order_cols))]
    keys = df.select(*[keyed(c).alias(k) for c, k in zip(order_cols, kcols)])
    ranked, n = global_rank(keys, [F.asc(k) for k in kcols], out_col="_rk")
    base, rem = divmod(n, n_tiles)
    cuts, acc = [], 0
    for k in range(n_tiles - 1):
        acc += base + (1 if k < rem else 0)
        cuts.append(acc)
    by_rank = {
        r["_rk"]: tuple(r[k] for k in kcols)
        for r in ranked.filter(F.col("_rk").isin(cuts)).collect()
    }
    # The tiles below are plain filters over the ORIGINAL df — the ranked
    # frame is fully consumed by the boundary collect above, so release the
    # checkpoint global_rank pinned (one events-sized key frame per call
    # otherwise stays in executor storage for the session's lifetime).
    free_rank_pin(ranked)

    def lex_le(bound: tuple) -> Column:
        expr = keyed(order_cols[-1]) <= F.lit(bound[-1])
        for c, b in zip(reversed(order_cols[:-1]), reversed(bound[:-1])):
            expr = (keyed(c) < F.lit(b)) | ((keyed(c) == F.lit(b)) & expr)
        return expr

    tiles: list[DataFrame] = []
    prev: Column | None = None
    for cut in cuts:
        cond = lex_le(by_rank[cut]) if cut in by_rank else F.lit(False)
        tiles.append(df.filter(cond if prev is None else (cond & ~prev)))
        prev = cond
    tiles.append(df.filter(F.lit(True) if prev is None else ~prev))
    return tiles


def write_epoch_dirs(in_dir: str, batches: list[DataFrame]) -> None:
    """Write ``batches[i]`` to ``in_dir/b{i}`` as a single parquet file with
    mtime ``BASE_TS + i*STEP``, so the file source replays them in order.

    ONE job writes every batch: each frame is tagged with its batch index,
    the union is hash-partitioned on that index so a batch is exactly one
    task's output (one data file per batch), and the ``partitionBy`` dirs
    are renamed into place. N single-file jobs would pay N job schedulings
    and N scan plans per replay. mtimes are stamped only after every write
    has completed, so ordering is by the stamp alone, never by write
    completion order."""
    os.makedirs(in_dir, exist_ok=True)

    def _stamp(i: int) -> None:
        d = os.path.join(in_dir, _epoch_dir(i))
        t = BASE_TS + i * STEP
        for fname in os.listdir(d):
            os.utime(os.path.join(d, fname), (t, t))

    def _one(i: int, df: DataFrame) -> None:
        df.coalesce(1).write.parquet(os.path.join(in_dir, _epoch_dir(i)))
        _stamp(i)

    if len(batches) == 1:
        _one(0, batches[0])
        return
    tagged = None
    for i, df in enumerate(batches):
        t = df.withColumn("_b", F.lit(i))  # fixture frames never carry ``_b``
        tagged = t if tagged is None else tagged.unionByName(t)
    stage = os.path.join(in_dir, ".epochs_stage")
    tagged.repartition(len(batches), "_b").write.partitionBy("_b").parquet(stage)
    written: set[int] = set()
    for entry in os.listdir(stage):
        if entry.startswith("_b="):
            i = int(entry.split("=", 1)[1])
            os.rename(os.path.join(stage, entry), os.path.join(in_dir, _epoch_dir(i)))
            written.add(i)
    shutil.rmtree(stage, ignore_errors=True)
    for i, df in enumerate(batches):
        if i in written:
            _stamp(i)
        else:
            # an EMPTY batch produces no partition dir in the single-job
            # write; fall back to the per-batch path so the epoch (and its
            # batch-index accounting downstream) still exists
            _one(i, df)


def run_replay(
    spark: SparkSession,
    phases: list[list[DataFrame]],
    write: Callable[[DataFrame, str], DataStreamWriter],
    read: Callable[[str], DataFrame],
) -> DataFrame:
    """Replay ``phases`` through one streaming query and return ``read``'s
    frame, detached from the work dir (module docstring)."""
    if not phases or not all(phases):
        raise ValueError("run_replay needs at least one phase and no empty phase")
    batches = [b for phase in phases for b in phase]
    work = tempfile.mkdtemp(prefix="replay_")
    try:
        fixture, in_dir = os.path.join(work, "fixture"), os.path.join(work, "in")
        write_epoch_dirs(fixture, batches)
        os.makedirs(in_dir)
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir + "/*")
        )
        writer = (
            write(stream, work)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
        )
        i = 0
        for phase in phases:
            for _ in phase:
                name = _epoch_dir(i)
                os.rename(os.path.join(fixture, name), os.path.join(in_dir, name))
                i += 1
            writer.start().awaitTermination()
        return read(work).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
