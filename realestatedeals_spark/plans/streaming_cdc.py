"""Streaming CDC end-to-end as a registered, oracle-checked query (C3/C4).

The reference's poll loop (main.py:107-142) re-expressed as Structured
Streaming was previously exercised only by pytest; this registers a full
replay run — three scrape cycles replayed as three micro-batches
through ``run_replay`` (file source → foreachBatch CDC → swap-on-write
state), INCLUDING a checkpoint-recovery restart: cycles 1-2 are one phase,
drained by a first start that terminates; cycle 3 is a second phase, drained
by a second start from the same checkpoint, proving it resumes with the
carried state instead of reprocessing from scratch.

The accumulated emissions are fully deterministic (each cycle is a modular
filter over ``orders`` with mirrored price expressions), so the whole
streaming pipeline gets a DuckDB oracle: the union of the three batch-CDC
transitions. This also gives the micro-batch path a bench number (VERDICT r2
next-round item 7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.sources import load_table
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.cdc_stream import CdcState, process_cdc_batch
from realestatedeals_spark.streaming.replay import run_replay

# Three deterministic scrape cycles over orders. Price expressions are
# mirrored verbatim in the oracle so the doubles match bit-for-bit.
_C1 = "SELECT o_orderkey AS mls, CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price FROM orders WHERE o_orderkey % 5 <> 0"
_C2 = "SELECT o_orderkey AS mls, o_totalprice AS price FROM orders WHERE o_orderkey % 11 <> 0"
_C3 = "SELECT o_orderkey AS mls, CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 500.0 ELSE o_totalprice END AS price FROM orders WHERE o_orderkey % 3 <> 0"

# One CDC transition (prev → cur), identical to operators/cdc.py semantics:
# unchanged rows are silent, pct only for price changes on non-zero old.
_TRANSITION = """
SELECT coalesce(s.mls, p.mls) AS mls,
       CASE WHEN p.price IS NULL THEN 'new_listing'
            WHEN s.price IS NULL THEN 'off_market'
            ELSE 'price_change' END AS status,
       p.price AS old_price, s.price AS new_price,
       CASE WHEN p.price IS NOT NULL AND s.price IS NOT NULL
                 AND s.price <> p.price AND p.price <> 0
            THEN (s.price - p.price) / p.price * 100.0 END AS price_change_percentage
FROM ({cur}) s FULL OUTER JOIN ({prev}) p ON s.mls = p.mls
WHERE NOT (p.price IS NOT NULL AND s.price IS NOT NULL AND s.price = p.price)
"""

_STREAM_ORACLE = f"""
SELECT mls, 'new_listing' AS status, CAST(NULL AS DOUBLE) AS old_price,
       price AS new_price, CAST(NULL AS DOUBLE) AS price_change_percentage
FROM ({_C1})
UNION ALL {_TRANSITION.format(cur=_C2, prev=_C1)}
UNION ALL {_TRANSITION.format(cur=_C3, prev=_C2)}
"""


def _cycles(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    orders = load_table(spark, sf_dir, "orders")
    key, price = F.col("o_orderkey"), F.col("o_totalprice")
    return [
        orders.filter(key % 5 != 0).select(
            key.alias("mls"),
            F.when(key % 7 == 0, price + 1000.0).otherwise(price).alias("price"),
        ),
        orders.filter(key % 11 != 0).select(key.alias("mls"), price.alias("price")),
        orders.filter(key % 3 != 0).select(
            key.alias("mls"),
            F.when(key % 2 == 0, price + 500.0).otherwise(price).alias("price"),
        ),
    ]


@register("c3_streaming_cdc", oracle=_STREAM_ORACLE, tags=("C3", "C4"), bench=True)
def c3_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay 3 scrape cycles through the real streaming query, restarting
    from the checkpoint before the last cycle; return all emissions."""
    apply_session_conf(spark)

    def write(stream, work):
        state = CdcState(spark, os.path.join(work, "state"))
        emit_dir = os.path.join(work, "emit")
        return stream.writeStream.foreachBatch(
            lambda bdf, eid: process_cdc_batch(bdf, state, emit_dir, epoch_id=eid)
        )

    def read(work):
        return spark.read.parquet(os.path.join(work, "emit")).select(
            "mls", "status", "old_price", "new_price", "price_change_percentage"
        )

    cycles = _cycles(spark, sf_dir)
    # phase 2 holds cycle 3 back: the restarted stream must process exactly
    # that one new batch against the state the first start left behind
    return run_replay(spark, [cycles[:2], cycles[2:]], write, read)
