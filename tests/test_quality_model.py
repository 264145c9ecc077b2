"""Distilled quality classifier (operators/quality_model.py): the
teacher (the full curation gate, repetition kernel included) is
distilled into a student scoring documents from cheap scan-side
features only. pyspark.ml training is not bit-deterministic
(distributed histogram aggregation), so the contract is behavioral:
agreement floor, exact rate matching, shuffle-free scoring plan, and
degenerate-corpus safety."""

from __future__ import annotations

import pyspark.sql.functions as F

from conftest import SF_DIR
from toymapreduce_go_spark.operators.quality_model import (
    gate_filter, gate_labels, quality_model_report, score_quality,
    train_quality_model)


def _load(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_gbt_student_agreement_and_rate_match(spark):
    """Default (GBT) student: >= 0.9 agreement with the full gate, and
    the rate-matched threshold makes student and teacher pass the SAME
    number of documents overall."""
    rep = quality_model_report(_load(spark))
    agg = rep.agg(
        F.sum("n_docs").alias("n"),
        F.sum("n_pass_teacher").alias("t"),
        F.sum("n_pass_student").alias("s"),
        (F.sum(F.col("agreement") * F.col("n_docs"))
         / F.sum("n_docs")).alias("agree")).collect()[0]
    assert agg["t"] == agg["s"], (agg["t"], agg["s"])
    assert agg["t"] > 0
    assert agg["agree"] >= 0.9, agg["agree"]


def test_lr_student_is_weaker_but_useful(spark):
    """The auditable linear tier: class-weighted LR can't express the
    gate's AND-corner exactly but must stay well above chance."""
    docs = _load(spark)
    model = train_quality_model(docs, model_type="lr")
    scored = score_quality(docs, model)
    joined = scored.join(gate_labels(docs), "doc_id")
    # rank quality without thresholding: mean score of passing docs
    # must clearly exceed mean score of failing docs
    means = (joined.groupBy("label")
             .agg(F.avg("quality_score").alias("m")).collect())
    by_label = {r["label"]: r["m"] for r in means}
    assert by_label[1.0] > by_label[0.0] + 0.2, by_label


def _plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scoring_plan_is_shuffle_free_scan(spark):
    """The entire point of distillation: scoring must not run the
    teacher's repetition kernel — no explode (Generate), no exchange
    before the projection, no Python execution stage."""
    docs = _load(spark)
    model = train_quality_model(docs)
    scored = score_quality(docs, model)
    plan = _plan(scored)
    assert "Generate" not in plan, plan
    assert "Exchange" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_gate_plans_are_shuffle_free_scan(spark):
    """The curation gate judges each row on its own text: the filter
    and the labels are scan-side projections with no exchange, no
    explode (Generate) and no join."""
    docs = _load(spark)
    for gated in (gate_filter(docs), gate_labels(docs)):
        plan = _plan(gated)
        for marker in ("Exchange", "Generate", "Join"):
            assert marker not in plan, plan


def test_gate_filter_keeps_exactly_the_label_one_rows(spark):
    """``gate_filter`` and ``gate_labels`` are one predicate: the rows
    the filter keeps are exactly the rows labelled 1.0."""
    docs = _load(spark)
    kept = sorted(tuple(r) for r in gate_filter(docs).collect())
    labelled = sorted(tuple(r) for r in docs.join(
        gate_labels(docs).filter("label = 1.0"), "doc_id", "left_semi")
        .collect())
    assert kept and kept == labelled


def test_degenerate_corpora_do_not_crash(spark):
    """Single-class labels (a slice where nothing passes) -> None model
    -> constant scores; empty corpus -> empty report."""
    allfail = spark.createDataFrame(
        [(i, "a", "tiny") for i in range(10)],
        "doc_id long, source string, text string")
    assert train_quality_model(allfail) is None
    scored = score_quality(allfail, None)
    assert scored.count() == 10
    assert scored.agg(F.min("quality_score")).collect()[0][0] == 1.0
    rep = quality_model_report(allfail)
    assert rep.collect()[0]["n_pass_teacher"] == 0


def test_quality_model_save_load_roundtrip(spark, tmp_path):
    """A reloaded student must score every document identically to the
    in-session model (train-once / score-many)."""
    from toymapreduce_go_spark.operators.quality_model import (
        load_quality_model, save_quality_model)

    docs = _load(spark)
    model = train_quality_model(docs)
    path = f"file://{tmp_path}/quality_model"
    save_quality_model(model, path)
    back = load_quality_model(spark, path)
    want = sorted(tuple(r) for r in score_quality(docs, model).collect())
    got = sorted(tuple(r) for r in score_quality(docs, back).collect())
    assert got == want
