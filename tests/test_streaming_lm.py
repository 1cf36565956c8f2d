"""C15 streaming LM count maintenance: redelivery idempotency and
streamed-equals-batch model state (the oracle pins the same equality
end-to-end through a real availableNow replay)."""

from __future__ import annotations

from realestatedeals_spark.io.catalog import Catalog
from realestatedeals_spark.plans.llm_lm import _model
from realestatedeals_spark.plans.streaming_lm import apply_lm_batch, model_head


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_redelivered_epoch_is_a_noop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    b0 = _docs(spark, [(0, "a b c a b"), (2, "b c a")])
    b1 = _docs(spark, [(4, "a b c")])
    assert apply_lm_batch(cat, b0, 0) is True
    assert apply_lm_batch(cat, b1, 1) is True
    before = {(r.u, r.v, r.w): r.c_uvw for r in cat.read("tri").collect()}
    # crash-after-publish: the engine redelivers epochs 0 and 1
    assert apply_lm_batch(cat, b0, 0) is False
    assert apply_lm_batch(cat, b1, 1) is False
    after = {(r.u, r.v, r.w): r.c_uvw for r in cat.read("tri").collect()}
    assert after == before  # no double counting
    assert cat.applied_epoch() == 1


def test_incremental_fold_equals_one_shot_counts(spark, tmp_path):
    texts = [
        (0, "a b c a b c d"),
        (2, "b c d e"),
        (4, "c d e a b"),
        (6, "a b"),
    ]
    cat = Catalog(spark, str(tmp_path / "cat"))
    for i, row in enumerate(texts):
        apply_lm_batch(cat, _docs(spark, [row]), i)
    # batch model over the same docs (written as a one-table corpus)
    sf_dir = str(tmp_path / "corpus")
    _docs(spark, texts).selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    tri_b, big_b, uni_b, _ = _model(spark, sf_dir)
    assert {(r.u, r.v, r.w, r.c_uvw) for r in cat.read("tri").collect()} == {
        (r.u, r.v, r.w, r.c_uvw) for r in tri_b.collect()
    }
    assert {(r.u, r.v, r.c_uv) for r in cat.read("big").collect()} == {
        (r.u, r.v, r.c_uv) for r in big_b.collect()
    }
    assert {(r.w, r.c_w) for r in cat.read("uni").collect()} == {
        (r.w, r.c_w) for r in uni_b.collect()
    }
    head = model_head(cat).collect()
    assert head and all(r.p_micros <= 1_000_000 for r in head)


def test_score_delta_fold_redelivery_noop_and_compaction(spark, tmp_path):
    """The O(batch) score fold: per-epoch delta commits skip redelivered
    epochs (before AND after compaction — the watermark survives the
    epoch-less compaction commit), and compact_scores unions the deltas
    into one table, retiring them transactionally."""
    from realestatedeals_spark.plans.llm_lm import _model
    from realestatedeals_spark.plans.streaming_lm import (
        apply_score_delta_batch,
        compact_scores,
    )

    sf_dir = str(tmp_path / "corpus")
    _docs(spark, [(0, "a b c a b"), (2, "b c a b c")]).selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    model = _model(spark, sf_dir)
    cat = Catalog(spark, str(tmp_path / "cat"))
    b0 = _docs(spark, [(1, "a b c d")])
    b1 = _docs(spark, [(3, "b c a")])
    assert apply_score_delta_batch(cat, b0, 0, model) is True
    assert apply_score_delta_batch(cat, b1, 1, model) is True
    assert sorted(cat.pins()) == ["scores_d0", "scores_d1"]
    assert apply_score_delta_batch(cat, b0, 0, model) is False  # redelivery
    compact_scores(cat)
    assert sorted(cat.pins()) == ["scores"]  # deltas retired
    after = sorted((r.doc_id, r.score_sum_micros) for r in cat.read("scores").collect())
    assert len(after) == 2 and len({d for d, _ in after}) == 2
    # redelivery AFTER compaction still skips (watermark preserved)
    assert cat.applied_epoch() == 1
    assert apply_score_delta_batch(cat, b1, 1, model) is False
    # a second compaction folds new deltas INTO the existing base
    assert apply_score_delta_batch(cat, _docs(spark, [(5, "c a b")]), 2, model) is True
    compact_scores(cat)
    assert cat.read("scores").count() == 3


def test_delta_fold_compaction_equals_one_shot(spark, tmp_path):
    from realestatedeals_spark.plans.streaming_lm import (
        apply_lm_delta_batch,
        compact_lm,
    )

    texts = [(0, "a b c a b c d"), (2, "b c d e"), (4, "c d e a b")]
    cat = Catalog(spark, str(tmp_path / "cat"))
    for i, row in enumerate(texts):
        assert apply_lm_delta_batch(cat, _docs(spark, [row]), i) is True
    assert apply_lm_delta_batch(cat, _docs(spark, [texts[0]]), 0) is False
    assert sorted(n for n in cat.pins() if n.startswith("lm_d")) == [
        "lm_d0", "lm_d1", "lm_d2",
    ]
    pre_compact_v = cat.latest_version()
    compact_lm(cat)
    assert sorted(cat.pins()) == ["big", "tri", "uni"]  # deltas retired
    # time travel: the pre-compaction manifest still resolves a delta
    assert cat.read("lm_d0", version=pre_compact_v).count() >= 1
    # compacted counts == one-shot counts over the same corpus
    sf_dir = str(tmp_path / "corpus")
    _docs(spark, texts).selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    tri_b, big_b, uni_b, _ = _model(spark, sf_dir)
    assert {(r.u, r.v, r.w, r.c_uvw) for r in cat.read("tri").collect()} == {
        (r.u, r.v, r.w, r.c_uvw) for r in tri_b.collect()
    }
    assert {(r.w, r.c_w) for r in cat.read("uni").collect()} == {
        (r.w, r.c_w) for r in uni_b.collect()
    }


def test_compaction_preserves_applied_epoch_watermark(spark, tmp_path):
    """compact_lm runs between streaming commits (the production shape);
    its epoch-less commit must carry the applied-epoch watermark forward —
    if it reset to None, a redelivered foreachBatch epoch would pass the
    skip check and double-count n-grams (round-8 ADVICE, medium)."""
    from realestatedeals_spark.plans.streaming_lm import (
        apply_lm_delta_batch,
        compact_lm,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    b0 = _docs(spark, [(0, "a b c a b")])
    b1 = _docs(spark, [(2, "b c a")])
    assert apply_lm_delta_batch(cat, b0, 0) is True
    assert apply_lm_delta_batch(cat, b1, 1) is True
    compact_lm(cat)
    assert cat.applied_epoch() == 1  # watermark survives the compaction
    # the stream redelivers epochs 0 and 1 right after the compaction
    assert apply_lm_delta_batch(cat, b0, 0) is False
    assert apply_lm_delta_batch(cat, b1, 1) is False
    tri = {(r.u, r.v, r.w): r.c_uvw for r in cat.read("tri").collect()}
    assert tri[("a", "b", "c")] == 1  # not double-counted


def test_compaction_ignores_nondelta_tables_containing_d(spark, tmp_path):
    """A pinned table whose NAME merely contains "_d" (scores_daily,
    big_data) — or even an "lm_d" prefix without a numeric epoch — is not
    a delta: compact_lm must neither fold it into a count table nor drop
    it from the catalog (round-8 ADVICE, low)."""
    from realestatedeals_spark.plans.streaming_lm import (
        apply_lm_delta_batch,
        compact_lm,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    assert apply_lm_delta_batch(cat, _docs(spark, [(0, "a b c")]), 0) is True
    bystanders = spark.createDataFrame([(1, 10)], "k long, v long")
    cat.commit({"scores_daily": bystanders, "big_data": bystanders})
    compact_lm(cat)
    pins = cat.pins()
    assert "scores_daily" in pins and "big_data" in pins  # survived
    assert sorted(n for n in pins if n not in ("scores_daily", "big_data")) == [
        "big", "tri", "uni",
    ]
    assert {(r.u, r.v) for r in cat.read("big").collect()} == {
        ("a", "b"), ("b", "c"),
    }  # bystander rows never folded into a count table


def test_compaction_with_nothing_to_fold_raises_typed(spark, tmp_path):
    """No base and no deltas: compact_lm raises a typed ValueError instead
    of an IndexError from an empty fold list."""
    import pytest

    from realestatedeals_spark.plans.streaming_lm import compact_lm

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.commit({"unrelated": spark.createDataFrame([(1,)], "k long")})
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_lm(cat)


def test_compaction_leaving_a_delta_pinned_raises_typed(spark, tmp_path, monkeypatch):
    """Planted defect: a compaction whose commit retires all but its last
    delta must fail the retirement check the c15b/c16/c19 drivers run,
    with a typed CompactionError (a bare assert would vanish under -O)."""
    import pytest

    from realestatedeals_spark.io.catalog import CompactionError
    from realestatedeals_spark.plans.streaming_lm import (
        _DELTA_RE,
        apply_lm_delta_batch,
        compact_lm,
    )

    def delta_catalog(name):
        cat = Catalog(spark, str(tmp_path / name))
        for i, row in enumerate([(0, "a b c"), (2, "b c d")]):
            assert apply_lm_delta_batch(cat, _docs(spark, [row]), i) is True
        return cat

    good = delta_catalog("good")
    compact_lm(good)
    good.require_retired(_DELTA_RE)  # a correct compaction passes

    leaky = delta_catalog("leaky")
    commit = Catalog.commit

    def commit_keeping_last_delta(self, updates, *args, drops=None, **kwargs):
        return commit(self, updates, *args, drops=(drops or [])[:-1], **kwargs)

    monkeypatch.setattr(Catalog, "commit", commit_keeping_last_delta)
    compact_lm(leaky)
    monkeypatch.undo()
    with pytest.raises(CompactionError, match="lm_d1"):
        leaky.require_retired(_DELTA_RE)


def test_lookup_scoring_path_rowset_identical_to_plain(spark, sf_dir):
    """r13: c16 scores every epoch through the string-keyed count lookup
    (ngram_count_lookup + score_documents(lookup=...)). Pins that the
    lookup path's output is rowset-identical to the plain per-table join
    path on real fixture data — the space-count key argument (tokens can
    never contain a space, so orders cannot collide) made executable."""
    from pyspark.sql import functions as F

    from realestatedeals_spark.io.sources import load_table
    from realestatedeals_spark.plans.llm_lm import (
        _model,
        ngram_count_lookup,
        score_documents,
    )

    model = _model(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    plain = score_documents(docs, model)
    lookup = ngram_count_lookup(model).localCheckpoint(eager=True)
    via_lookup = score_documents(docs, model, lookup=lookup)
    assert plain.exceptAll(via_lookup).count() == 0
    assert via_lookup.exceptAll(plain).count() == 0
