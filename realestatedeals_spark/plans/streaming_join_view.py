"""C12 — STREAMING incremental maintenance of a join view (the per-epoch
form of io_cdf_join_view's whole-history algebra).

Two change-data feeds (orders and lineitem mutations, signed rows) arrive
interleaved as file micro-batches; ``foreachBatch`` applies the DBSP /
differential-dataflow bilinear delta rule per epoch:

    dV = dA x B_prev  +  A_prev x dB  +  dA x dB

and persists dV as an epoch-named DELTA of the view (merge-on-read), then
appends the epoch's input deltas to the accumulated relations. Each epoch
therefore costs O(|delta| x match) compute and O(|dV|) write — the
snapshots are only ever touched on the join key of the incoming delta and
the view is NEVER rewritten per epoch (the round-11 form rewrote the full
folded view every batch: O(view) per epoch, the cost model that breaks a
100 TB fact-join view; reading the view folds the delta log, and a
production deployment compacts it on the same cadence as any
merge-on-read table). A batch-id watermark makes redelivered epochs
no-ops, and every per-epoch write is an idempotent overwrite into a
directory NAMED by the batch id, so a torn epoch (crash between the three
writes) replays to the identical state — the round-11 fold-then-append
order could double-fold dV on a torn replay. The three per-epoch writes
run concurrently (one commit latency, not three — round-11 verdict task
#1). The final view must hash-match the same from-scratch oracle as
io_cdf_join_view: streaming epochs == whole-history algebra == batch
recompute, bit-for-bit.

The change feeds are constructed ANALYTICALLY from the base tables — the
same three-epoch history io_cdf_join_view drives through real
VersionedTable commits (insert-all, delete slices, keyed updates), emitted
directly as signed CDF rows. io_cdf_join_view keeps the actual
CDF-extraction machinery under test; this query's subject is the per-epoch
maintenance algebra, and round 11 measured 65 of its 83 gen-sf1.0 engine
seconds inside fixture history-building and re-evaluating the CDF lineage
once per epoch write.

Reference parity: the reference recomputes its derived state from the
whole JSON snapshot each poll cycle (main.py:98-143); this is that
refresh done as O(changes) per cycle with deletes/updates handled.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_table
from realestatedeals_spark.plans.mor_delete_plan import _CDF_JOIN_VIEW_ORACLE
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay
from realestatedeals_spark.util import free_local_checkpoint

_SCHEMA = (
    "src string, ver bigint, k bigint, custkey bigint, rev bigint, sign bigint"
)

_A_SCHEMA = "k bigint, custkey bigint, sa bigint"
_B_SCHEMA = "kb bigint, rev bigint, sb bigint"
_V_SCHEMA = "custkey bigint, n_items bigint, rev_micros bigint"


class _JoinView:
    """foreachBatch target: accumulated A/B relations + the view delta log.

    Layout: ``{a_acc,b_acc,view}/e{batch_id}/`` parquet directories plus an
    ``_applied_batch`` watermark. Reads list epoch directories EXPLICITLY
    and take only ids ≤ the watermark (a torn later epoch's partial files
    are invisible), writes overwrite their own epoch directory (replay is
    idempotent), and the watermark moves LAST — the standard
    manifest-last commit ordering, here with the directory listing as the
    manifest."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.a_dir = os.path.join(root, "a_acc")
        self.b_dir = os.path.join(root, "b_acc")
        self.view_dir = os.path.join(root, "view")
        self.mark = os.path.join(root, "_applied_batch")

    def _applied(self) -> int:
        if not os.path.exists(self.mark):
            return -1
        with open(self.mark) as fh:
            return int(fh.read().strip())

    def _read_epochs(self, base: str, schema: str, upto: int) -> DataFrame | None:
        dirs = [
            os.path.join(base, d)
            for d in (os.listdir(base) if os.path.isdir(base) else ())
            if d.startswith("e") and int(d[1:]) <= upto
        ]
        if not dirs:
            return None
        return self.spark.read.schema(schema).parquet(*dirs)

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        applied = self._applied()
        if batch_id <= applied:  # redelivered epoch: no-op
            return
        batch = batch.localCheckpoint(eager=True)
        da = batch.filter(F.col("src") == "A").select(
            "k", "custkey", F.col("sign").alias("sa")
        )
        db = batch.filter(F.col("src") == "B").select(
            F.col("k").alias("kb"), "rev", F.col("sign").alias("sb")
        )
        a_prev = self._read_epochs(self.a_dir, _A_SCHEMA, applied)
        b_prev = self._read_epochs(self.b_dir, _B_SCHEMA, applied)

        terms = [da.join(db, da["k"] == db["kb"])]
        if b_prev is not None:
            terms.append(da.join(b_prev, da["k"] == b_prev["kb"]))
        if a_prev is not None:
            terms.append(a_prev.join(db, a_prev["k"] == db["kb"]))
        delta = terms[0]
        for t in terms[1:]:
            delta = delta.unionByName(t)
        dview = delta.groupBy("custkey").agg(
            F.sum(F.col("sa") * F.col("sb")).alias("n_items"),
            F.sum(F.col("sa") * F.col("sb") * F.col("rev")).alias("rev_micros"),
        )

        # three O(delta)-sized idempotent writes, concurrently (independent
        # jobs; each overwrites its own epoch directory so a torn replay
        # converges); the watermark advances only after ALL landed
        e = f"e{batch_id}"
        writes = (
            (dview, os.path.join(self.view_dir, e)),
            (da, os.path.join(self.a_dir, e)),
            (db, os.path.join(self.b_dir, e)),
        )
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(df.write.mode("overwrite").parquet, path)
                for df, path in writes
            ]
            for f in futs:
                f.result()
        with open(self.mark, "w") as fh:
            fh.write(str(batch_id))
        free_local_checkpoint(batch)

    def current(self) -> DataFrame | None:
        """Merge-on-read fold of the view delta log (what a compaction job
        would persist)."""
        deltas = self._read_epochs(self.view_dir, _V_SCHEMA, self._applied())
        if deltas is None:
            return None
        return deltas.groupBy("custkey").agg(
            F.sum("n_items").alias("n_items"),
            F.sum("rev_micros").alias("rev_micros"),
        )


def _signed_epochs(orders: DataFrame, li: DataFrame) -> list[DataFrame]:
    """The three-epoch signed change feed of io_cdf_join_view's history,
    stated directly over the base tables (see module docstring): epoch 1
    inserts both relations; epoch 2 deletes ``o_orderkey % 13 = 5`` /
    ``l_linenumber >= 5``; epoch 3 re-routes ``o_orderkey % 11 = 2`` of the
    REMAINING orders to custkey+1000 and doubles rev on
    ``l_orderkey % 7 = 1`` of the remaining lineitems (pre-image −1 /
    post-image +1 pairs, exactly what table_changes emits for merge_into).
    """

    def arow(ver: int, sign: int, custkey: F.Column, src: DataFrame) -> DataFrame:
        return src.select(
            F.lit("A").alias("src"),
            F.lit(ver).cast("long").alias("ver"),
            F.col("o_orderkey").alias("k"),
            custkey.cast("long").alias("custkey"),
            F.lit(None).cast("long").alias("rev"),
            F.lit(sign).cast("long").alias("sign"),
        )

    def brow(ver: int, sign: int, rev: F.Column, src: DataFrame) -> DataFrame:
        return src.select(
            F.lit("B").alias("src"),
            F.lit(ver).cast("long").alias("ver"),
            F.col("l_orderkey").alias("k"),
            F.lit(None).cast("long").alias("custkey"),
            rev.cast("long").alias("rev"),
            F.lit(sign).cast("long").alias("sign"),
        )

    a_del = orders.filter(F.col("o_orderkey") % 13 == 5)
    a_upd = orders.filter(
        (F.col("o_orderkey") % 13 != 5) & (F.col("o_orderkey") % 11 == 2)
    )
    b_del = li.filter(F.col("l_linenumber") >= 5)
    b_upd = li.filter(
        (F.col("l_linenumber") < 5) & (F.col("l_orderkey") % 7 == 1)
    )
    ck, rv = F.col("o_custkey"), F.col("rev_micros")
    return [
        arow(1, 1, ck, orders).unionByName(brow(1, 1, rv, li)),
        arow(2, -1, ck, a_del).unionByName(brow(2, -1, rv, b_del)),
        arow(3, -1, ck, a_upd)
        .unionByName(arow(3, 1, ck + 1000, a_upd))
        .unionByName(brow(3, -1, rv, b_upd))
        .unionByName(brow(3, 1, 2 * rv, b_upd)),
    ]


@register(
    "c12_stream_join_view",
    oracle=_CDF_JOIN_VIEW_ORACLE,
    tags=("C12", "streaming", "view", "join", "incremental"),
)
def c12_stream_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_session_conf(spark)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # the grouped-lineitem relation feeds all three epoch frames — pin it
    # once so the epoch writes don't re-shuffle lineitem per epoch
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000
                ).cast("long")
            ).alias("rev_micros")
        )
        .localCheckpoint(eager=True)
    )

    def write(stream, work):
        # the fixture write (inside run_replay) was li's last consumer
        free_local_checkpoint(li)
        view = _JoinView(spark, os.path.join(work, "state"))
        return stream.writeStream.foreachBatch(view.foreach_batch)

    def read(work):
        final = _JoinView(spark, os.path.join(work, "state")).current()
        if final is None:
            raise RuntimeError("stream produced no batches")
        return final.filter(F.col("n_items") > 0).select(
            F.col("custkey").alias("o_custkey"), "n_items", "rev_micros"
        )

    return run_replay(spark, [_signed_epochs(orders, li)], write, read)
