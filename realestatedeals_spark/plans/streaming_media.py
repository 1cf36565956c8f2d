"""C17 — STREAMING media dedup: the audio-fingerprint near-dup groups
(plans/multimodal.py:x5_audio_near_dup_fp) maintained as tracks ARRIVE.

Every micro-batch runs the REAL decode -> delta-sign fingerprint pipeline
on just its own tracks (Arrow-batched mapInPandas, embarrassingly
parallel) and folds the per-print aggregates into the catalog-pinned
``prints`` table exactly-once (epoch + CAS, the c14/c15 protocol). The
fold is a union + re-group over the print table, which is bounded by
PRINT SPACE, not corpus size — so unlike a facts-accumulate stream, the
per-batch cost does not grow with history even in this simple form.

After the replay the print groups must hash-match the batch query's
oracle: streamed group counts/min/max == one-shot groups, bit-for-bit
(counts are integers; min/max are associative). This is the ingest shape
for media dedup at scale: tracks stream in, the print index is always
current, and a batch arriving later can flag its duplicates with one
join against the pinned snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.catalog import Catalog
from realestatedeals_spark.io.sources import load_table
from realestatedeals_spark.plans.multimodal import _X5_AUDIO_FP_ORACLE
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay


def _batch_prints(batch_df: DataFrame) -> DataFrame:
    """Fingerprint one micro-batch's tracks and aggregate per print —
    identical encode/decode pipeline to the batch query."""
    import numpy as np
    import pandas as pd

    from realestatedeals_spark.operators.multimodal import (
        audio_fingerprint,
        encode_wav_pcm16,
    )

    def encode(batches):
        i = np.arange(1600, dtype=np.int64)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                base, gain = int(did) % 40, int(did) // 40 % 3 + 1
                s = gain * ((base * 7 + i * 13) % 401 - 200)
                rows.append((int(did), bytearray(encode_wav_pcm16(s, 8000))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = batch_df.select("doc_id").mapInPandas(
        encode, schema="media_id long, content binary"
    )
    return audio_fingerprint(media, n_frames=16, frame_len=100).groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_tracks"),
        F.min("media_id").cast("long").alias("min_track"),
        F.max("media_id").cast("long").alias("max_track"),
    )


def apply_media_batch(cat: Catalog, batch_df: DataFrame, epoch_id: int) -> bool:
    """Fold one micro-batch's print aggregates into the pinned print
    table, exactly-once; returns False on the redelivery-skip path."""
    applied = cat.applied_epoch()
    if applied is not None and epoch_id <= applied:
        return False
    latest = cat.latest_version()
    prints = _batch_prints(batch_df)
    if latest is not None:
        prints = (
            cat.read("prints", latest)
            .unionByName(prints)
            .groupBy("fp")
            .agg(
                F.sum("n_tracks").alias("n_tracks"),
                F.min("min_track").alias("min_track"),
                F.max("max_track").alias("max_track"),
            )
        )
    # No localCheckpoint (round 12, same as the c15 fold): the fold reads
    # the PREVIOUS pinned version's files, and Catalog.commit's parquet
    # write materializes it exactly once — the eager checkpoint was a full
    # extra materialization per epoch with blocks left behind.
    cat.commit({"prints": prints}, expected_latest=latest, epoch=epoch_id)
    return True


@register(
    "c17_stream_media_dedup",
    oracle=_X5_AUDIO_FP_ORACLE,
    tags=("C17", "streaming", "multimodal", "dedup"),
    bench=True,
)
def c17_stream_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the corpus's tracks as 3 micro-batches, folding each batch's
    audio-print aggregates into the catalog exactly-once; the final print
    groups must hash-match the BATCH near-dup query's oracle. Redelivery
    idempotency is pinned in tests/test_streaming_media.py."""
    apply_session_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def write(stream, work):
        cat = Catalog(spark, os.path.join(work, "cat"))
        return stream.writeStream.foreachBatch(lambda bdf, eid: apply_media_batch(cat, bdf, eid))

    # pmod, not %: Java remainder is negative for negative ids, which would
    # drop such rows from EVERY batch (exactly-one-batch coverage is what
    # the stream-vs-batch oracle match relies on).
    return run_replay(
        spark,
        [[docs.filter(F.pmod(F.col("doc_id"), 3) == i) for i in (0, 1, 2)]],
        write,
        lambda work: Catalog(spark, os.path.join(work, "cat")).read("prints"),
    )
