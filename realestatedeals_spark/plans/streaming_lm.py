"""C15 — STREAMING incremental n-gram LM training, exactly-once.

The batch Stupid-Backoff model (plans/llm_lm.py) maintained as documents
ARRIVE: every micro-batch counts its own n-grams (one explode + group-by
per order, exactly the batch formulation on less data) and folds them
into the persisted trigram/bigram/unigram count tables through one atomic
multi-table catalog transaction (io/catalog.py) — a reader can never see
the trigram table updated without its backoff denominators. After the
replay, the model's head must hash-match the all-data batch trainer's
oracle (_LM_TRAIN_ORACLE): streaming epochs == batch recompute,
bit-for-bit, because counts are integers and addition is associative.

Exactly-once under foreachBatch redelivery: same protocol as C14 — each
manifest records its epoch, the sink skips any epoch <= applied_epoch()
(the round-8 merge() fix keeps that watermark intact across branch
merges), and CAS publish (expected_latest) keeps a torn writer from
interleaving with the skip check.

Fold cost: union-previous-pin + re-group is O(model) per batch — the
documented simplification (c14 does the same for facts); the O(batch)
production variant appends per-batch count DELTAS merge-on-read style
(io/maintenance.py) and sums at read time. The catalog protocol is
identical either way. This is the 100 TB ingest shape for quality-filter
LMs: the crawl streams in, the model is always current, and scoring
(x4_lm_backoff_score) reads a consistent pinned snapshot.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestatedeals_spark.io.catalog import Catalog
from realestatedeals_spark.io.sources import load_table
from realestatedeals_spark.plans.llm_lm import (
    _LM_SCORE_ORACLE,
    _LM_TRAIN_ORACLE,
    _micros6,
    _ngrams,
    _words,
)
from realestatedeals_spark.plans.registry import register
from realestatedeals_spark.session import apply_session_conf
from realestatedeals_spark.streaming.replay import run_replay


def _batch_counts(batch_df: DataFrame):
    """The batch trainer's count formulation applied to one micro-batch."""
    ws = _words(batch_df)
    tri = (
        _ngrams(ws, 3)
        .groupBy(F.col("g0").alias("u"), F.col("g1").alias("v"), F.col("g2").alias("w"))
        .agg(F.count(F.lit(1)).alias("c_uvw"))
    )
    big = (
        _ngrams(ws, 2)
        .groupBy(F.col("g0").alias("u"), F.col("g1").alias("v"))
        .agg(F.count(F.lit(1)).alias("c_uv"))
    )
    uni = (
        _ngrams(ws, 1)
        .groupBy(F.col("g0").alias("w"))
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    return tri, big, uni


def _thirds(docs: DataFrame, r: int) -> list[DataFrame]:
    """Split one parity half of the corpus (``doc_id`` ≡ r mod 2) into three
    batches. pmod, not %: Java remainder is negative for negative ids, which
    would drop such rows from EVERY batch (exactly-one-batch coverage is what
    the stream-vs-batch oracle match relies on)."""
    return [docs.filter(F.pmod(F.col("doc_id"), 6) == 2 * i + r) for i in (0, 1, 2)]


def apply_lm_batch(cat: Catalog, batch_df: DataFrame, epoch_id: int) -> bool:
    """Fold one micro-batch's n-gram counts into the persisted model as a
    single three-table transaction; returns False on the redelivery-skip
    path. Module-level so tests can drive redelivery directly."""
    applied = cat.applied_epoch()
    if applied is not None and epoch_id <= applied:
        return False  # redelivered batch: the model already counts it
    latest = cat.latest_version()
    tri_b, big_b, uni_b = _batch_counts(batch_df)
    if latest is None:
        tri, big, uni = tri_b, big_b, uni_b
    else:
        tri = (
            cat.read("tri", latest)
            .unionByName(tri_b)
            .groupBy("u", "v", "w")
            .agg(F.sum("c_uvw").alias("c_uvw"))
        )
        big = (
            cat.read("big", latest)
            .unionByName(big_b)
            .groupBy("u", "v")
            .agg(F.sum("c_uv").alias("c_uv"))
        )
        uni = (
            cat.read("uni", latest)
            .unionByName(uni_b)
            .groupBy("w")
            .agg(F.sum("c_w").alias("c_w"))
        )
    # No localCheckpoint (round 12): each fold reads the PREVIOUS pinned
    # version's files (cat.read pins `latest` explicitly) and stages the
    # next version in a fresh directory — append-only versioning means
    # there is no read-write conflict to pin against, and Catalog.commit's
    # parquet write materializes each fold exactly once. The eager
    # checkpoints computed all three folds SEQUENTIALLY into storage
    # blocks and then re-read them for the parallel writes — a second full
    # materialization of the whole model per epoch.
    cat.commit({"tri": tri, "big": big, "uni": uni}, expected_latest=latest, epoch=epoch_id)
    return True


def model_head(cat: Catalog) -> DataFrame:
    """The trained model's top-100 head — identical formulation (and
    therefore identical oracle) to x4_lm_backoff_train."""
    tri, big = cat.read("tri"), cat.read("big")
    p = F.col("c_uvw").cast("double") / F.col("c_uv").cast("double")
    return (
        tri.join(big, ["u", "v"])
        .select("u", "v", "w", "c_uvw", "c_uv", _micros6(p).alias("p_micros"))
        .orderBy(F.col("c_uvw").desc(), "u", "v", "w")
        .limit(100)
    )


@register(
    "c15_stream_lm_counts",
    oracle=_LM_TRAIN_ORACLE,
    tags=("C15", "streaming", "catalog", "lm"),
)
def c15_stream_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the training half of the corpus (even doc_ids) as 3
    micro-batches, each folding its n-gram counts into the catalog-pinned
    model atomically with its epoch recorded; the final model head must
    hash-match the all-data batch trainer's oracle. Redelivery idempotency
    is pinned in tests/test_streaming_lm.py."""
    apply_session_conf(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )

    def write(stream, work):
        cat = Catalog(spark, os.path.join(work, "cat"))
        return stream.writeStream.foreachBatch(lambda bdf, eid: apply_lm_batch(cat, bdf, eid))

    # the streamed model must be indistinguishable from the batch one
    return run_replay(
        spark,
        [_thirds(docs, 0)],
        write,
        lambda work: model_head(Catalog(spark, os.path.join(work, "cat"))),
    )


_SCORES_DELTA_RE = re.compile(r"scores_d\d+")


def apply_score_delta_batch(
    cat: Catalog, batch_df: DataFrame, epoch_id: int, model, lookup: DataFrame | None = None
) -> bool:
    """Score one micro-batch of arriving documents against the pinned
    model and commit ONLY this epoch's per-doc score rows as a delta table
    (``scores_d<epoch>``), exactly-once (same epoch/CAS protocol as the
    count fold). O(batch) per batch: nothing proportional to the
    accumulated scores is read or written — the previous union-previous-pin
    fold re-materialized the whole history every batch, the last O(history)
    term in the streaming loop. Documents never span micro-batches, so the
    union of the deltas IS the batch scorer's output — compact_scores folds
    them and the oracle pins that equality bit-for-bit."""
    from realestatedeals_spark.plans.llm_lm import score_documents

    applied = cat.applied_epoch()
    if applied is not None and epoch_id <= applied:
        return False
    latest = cat.latest_version()
    scored = score_documents(batch_df, model, lookup=lookup)
    cat.commit(
        {f"scores_d{epoch_id}": scored},
        expected_latest=latest,
        epoch=epoch_id,
    )
    return True


def compact_scores(cat: Catalog) -> int:
    """Fold every pending score delta into the compacted ``scores`` table
    and retire the deltas in the same transaction (Catalog drops) — pure
    union, no re-aggregation, because score rows are per-doc and docs never
    span batches. The epoch-less commit preserves the applied-epoch
    watermark (Catalog.commit carries it forward), so compaction can race
    a live stream without re-opening the redelivery window."""
    pins = cat.pins()
    deltas = sorted(n for n in pins if _SCORES_DELTA_RE.fullmatch(n))
    parts = [cat.read(n) for n in deltas]
    if "scores" in pins:
        parts.append(cat.read("scores"))
    if not parts:
        raise ValueError("nothing to compact for 'scores': no base and no deltas")
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    # No localCheckpoint before the commit (round 12): Catalog.commit
    # parquet-writes the frame, which already materializes it exactly once —
    # the eager checkpoint computed every row into storage blocks first and
    # then re-read them for the write (a full extra materialization per
    # compaction), and its blocks outlived the query. Lineage ends at the
    # written files either way.
    return cat.commit({"scores": out}, drops=deltas)


@register(
    "c16_stream_lm_score",
    # the streamed scores must be indistinguishable from the batch
    # scorer's — same oracle, by construction of the shared scorer
    oracle=_LM_SCORE_ORACLE,
    tags=("C16", "streaming", "catalog", "lm"),
    bench=True,
)
def c16_stream_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LM scoring: the held-out half of the corpus (odd
    doc_ids) arrives as 3 micro-batches; each is scored against the
    STATIC trained model (the c15 fold's endpoint — here trained batch-
    side, the subject under test is scoring) through the SHARED scorer
    (llm_lm.score_documents), committed as an O(batch) per-epoch delta
    exactly-once, then one transactional compaction folds the deltas and
    retires them (the c15b pattern — per-batch cost is independent of the
    accumulated-scores size). The compacted table must hash-match
    x4_lm_backoff_score's oracle: per-batch stream-static joins ==
    whole-corpus batch joins, because documents never span batches and
    counts are static."""
    from realestatedeals_spark.plans.llm_lm import _model_agg, _model_from_agg

    apply_session_conf(spark)
    # The model is STREAM-STATIC: every epoch's scoring job joins the same
    # four count tables, and a foreachBatch job cannot reuse a previous
    # job's exchanges — uncached, each of the 3 epochs re-scanned and
    # re-aggregated the training corpus (guide §2.4: recompute across jobs
    # is a removable pass). Caching the COMBINED grouping-sets count frame
    # (round 12) materializes ALL FOUR tables with a single corpus pass —
    # per-table caches each re-ran the scan+aggregate at materialization.
    # Unpersisted in the finally so no storage outlives the query (the
    # leak class ADVICE r11 flagged).
    agg = _model_agg(spark, sf_dir).cache()
    model = _model_from_agg(agg)
    held = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
    )

    from concurrent.futures import ThreadPoolExecutor

    lookup = None

    def write(stream, work):
        nonlocal lookup
        warm.result()
        # The model total is ONE row; resolving it to a literal here (off
        # the warmed cache) removes the per-epoch AQE sub-job that
        # re-aggregated it inside every foreachBatch scoring job. Same
        # value, same LongType, bit-identical arithmetic downstream.
        from realestatedeals_spark.util import inline_frame

        tri, big, uni, total = model
        n_total = total.collect()[0][0]
        total_lit = inline_frame(spark, ["n_total"], [(n_total,)]).select(
            F.col("n_total").cast("long").alias("n_total")  # match sum()'s type
        )
        scored_model = (tri, big, uni, total_lit)
        # The model is scored against THREE times (one scoring job per
        # epoch); materializing the three count tables as one string-keyed
        # lookup (ngram_count_lookup) makes every epoch's five count probes
        # share a single canonically-identical broadcast build instead of
        # five separate slice-scan+broadcast jobs (round 13, guide §2.4):
        # per-epoch execute 0.56 → 0.27 s measured, rowsets identical.
        from realestatedeals_spark.plans.llm_lm import ngram_count_lookup

        lookup = ngram_count_lookup(scored_model).localCheckpoint(eager=True)
        cat = Catalog(spark, os.path.join(work, "cat"))
        return stream.writeStream.foreachBatch(
            lambda bdf, eid: apply_score_delta_batch(cat, bdf, eid, scored_model, lookup)
        )

    def read(work):
        # every consumer of the lookup (the per-epoch scoring jobs) has
        # materialized into committed delta files; free its blocks before
        # compaction (which reads only the deltas).
        from realestatedeals_spark.util import free_local_checkpoint

        free_local_checkpoint(lookup)
        cat = Catalog(spark, os.path.join(work, "cat"))
        compact_scores(cat)
        cat.require_retired(_SCORES_DELTA_RE)
        return cat.read("scores")

    # The cache fill (one corpus scan + grouping-sets aggregate) and the
    # replay-fixture write are independent jobs: the fill starts before
    # run_replay, whose first step is the fixture write, and the writer
    # callback joins the fill before it builds the lookup (guide §2.6) —
    # the two overlap instead of running back-to-back.
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            warm = pool.submit(agg.count)  # materializes the full cache
            return run_replay(spark, [_thirds(held, 1)], write, read)
    finally:
        agg.unpersist()


# -- O(batch) delta fold + transactional compaction (c15's production twin) --

def apply_lm_delta_batch(cat: Catalog, batch_df: DataFrame, epoch_id: int) -> bool:
    """The O(batch) fold: commit ONLY this epoch's n-gram count deltas —
    nothing proportional to the model is read or written, which is what
    survives an unbounded stream. One COMBINED delta table per epoch
    (round 12, guide §1.2/§2.4): ``_agg_counts`` counts all three orders
    in a single explode + GROUPING SETS pass, so an epoch costs one
    aggregation pipeline and one table write instead of three of each —
    counts fold by (gid, g0, g1, g2) group-sum, so compaction recovers the
    exact per-order tables. Same epoch/CAS exactly-once protocol as the
    full fold."""
    from realestatedeals_spark.plans.llm_lm import _agg_counts

    applied = cat.applied_epoch()
    if applied is not None and epoch_id <= applied:
        return False
    latest = cat.latest_version()
    cat.commit(
        {f"lm_d{epoch_id}": _agg_counts(batch_df)},
        expected_latest=latest,
        epoch=epoch_id,
    )
    return True


# A delta table is EXACTLY "lm_d<epoch>"; substring tests would also
# match unrelated pinned tables (a future "lm_daily", "film_d1") and
# compact_lm would silently drop them from the catalog.
_DELTA_RE = re.compile(r"lm_d\d+")


def _fold_order(cat: Catalog, pins: dict, delta, base: str, keys: list[str], cnt: str):
    parts = [] if delta is None else [delta]
    if base in pins:
        parts.append(cat.read(base))
    if not parts:
        raise ValueError(f"nothing to compact for {base!r}: no base and no deltas")
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out.groupBy(*keys).agg(F.sum(cnt).alias(cnt))


def compact_lm(cat: Catalog) -> int:
    """Fold every pending delta table into the compacted model and RETIRE
    the deltas in the same transaction (Catalog.commit drops) — a reader
    sees either deltas+old-model or new-model, never both or neither.
    Read-time cost returns to O(model); time travel to pre-compaction
    manifests still resolves the dropped deltas until expire(). The commit
    carries the applied-epoch watermark forward (Catalog.commit preserves
    the previous manifest's epoch when none is given), so a compaction
    racing a live stream can never re-open the redelivery window."""
    from realestatedeals_spark.plans.llm_lm import _model_from_agg

    pins = cat.pins()
    deltas = sorted(n for n in pins if _DELTA_RE.fullmatch(n))
    agg = None
    for n in deltas:
        d = cat.read(n)
        agg = d if agg is None else agg.unionByName(d)
    if agg is None:
        tri_d = big_d = uni_d = None
    else:
        # per-order slices of the combined delta union; each fold re-reads
        # the (tiny, batch-sized) delta files rather than sharing one
        # materialization — the per-epoch path is what must stay O(batch)
        tri_d, big_d, uni_d, _ = _model_from_agg(agg)
    tri = _fold_order(cat, pins, tri_d, "tri", ["u", "v", "w"], "c_uvw")
    big = _fold_order(cat, pins, big_d, "big", ["u", "v"], "c_uv")
    uni = _fold_order(cat, pins, uni_d, "uni", ["w"], "c_w")
    # No localCheckpoint (round 12): Catalog.commit's concurrent phase-1
    # parquet writes materialize each fold exactly once — the lazy
    # checkpoint made every fold compute into storage blocks and then
    # re-read them for the write (a second full materialization per table,
    # with blocks left behind). Lineage ends at the written files either
    # way; the folds still run as 3 parallel fold+write jobs.
    return cat.commit({"tri": tri, "big": big, "uni": uni}, drops=deltas)


@register(
    "c15b_stream_lm_delta_fold",
    oracle=_LM_TRAIN_ORACLE,
    tags=("C15", "streaming", "catalog", "lm"),
    bench=True,
)
def c15b_stream_lm_delta_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production variant of c15: each epoch commits ONLY its count
    deltas (O(batch) write — the full fold's O(model)-per-batch cost was
    the one documented simplification left in the streaming LM loop), and
    one transactional compaction folds deltas into the model and retires
    them atomically (Catalog drops). The compacted head must hash-match
    the same all-data batch trainer oracle as c15 and x4_lm_backoff_train."""
    apply_session_conf(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )

    def write(stream, work):
        cat = Catalog(spark, os.path.join(work, "cat"))
        return stream.writeStream.foreachBatch(
            lambda bdf, eid: apply_lm_delta_batch(cat, bdf, eid)
        )

    def read(work):
        cat = Catalog(spark, os.path.join(work, "cat"))
        compact_lm(cat)
        cat.require_retired(_DELTA_RE)
        return model_head(cat)

    return run_replay(spark, [_thirds(docs, 0)], write, read)
