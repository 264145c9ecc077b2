"""Distilled quality classifier — the ML tier of curation filtering.

Production corpora don't run their most expensive quality signals over
every document; they distill them into a cheap model (the fastText /
logistic-regression quality-filter recipe used by the big public
pretraining pipelines) and run THAT at scan speed. This module does the
same distillation end-to-end in Spark:

- **teacher** = the pipeline's full gate (length + alpha ratio + the
  Gopher repetition gates, ``curation_gate`` — one scan-side Column,
  but its repetition kernel sorts every document's bigrams);
- **student** = logistic regression over the cheap scan-side features
  (``textstats.quality_doc_features`` — pure projections, no shuffle),
  trained with ``pyspark.ml`` (JVM L-BFGS; the model is a dozen
  coefficients broadcast into the scoring projection);
- **deliverable** = a per-document score computable without ever
  running the expensive gate, plus an agreement report that quantifies
  the distillation loss.

At 100 TB the teacher runs once on a training slice; the student scores
every document at scan cost. No reference parity to cite — the
reference has no ML surface at all (SURVEY.md §2c).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import (MIN_ALPHA_RATIO, MIN_CHARS, REPETITION_FLAG_SQL,
                        quality_doc_features)

FEATURE_COLS = ("n_chars_d", "alpha_ratio", "punct_ratio",
                "stopword_ratio", "mean_word_len")


def curation_gate() -> Column:
    """The curation gate, defined once: True when a row's ``text``
    passes length + alpha ratio AND no Gopher repetition flag. One
    scan-side Column parsed from SQL text once — no shuffle, no join.

    Each row is judged on its own text, so rows that share a doc_id
    are judged apart (an anti-join on doc_id would pool their bigrams);
    doc_id is unique in every caller's input."""
    alpha_ratio = ("cast(length(regexp_replace(text, '[^a-zA-Z]', ''))"
                   " AS double) / greatest(cast(length(text) AS double),"
                   " 1.0D)")
    return F.expr(f"length(text) >= {MIN_CHARS}"
                  f" AND {alpha_ratio} >= {MIN_ALPHA_RATIO!r}D"
                  f" AND NOT {REPETITION_FLAG_SQL}")


def gate_filter(documents: DataFrame) -> DataFrame:
    """The rows of ``documents`` that pass the curation gate — the
    batch pipeline's stage 2 and the streaming ingest's gate."""
    return documents.filter(curation_gate())


def gate_labels(documents: DataFrame) -> DataFrame:
    """Teacher labels: 1 = passes the curation gate, 0 = dropped."""
    return documents.select("doc_id",
                            curation_gate().cast("double").alias("label"))


def train_quality_model(documents: DataFrame, max_iter: int = 25,
                        reg_param: float = 0.01,
                        model_type: str = "gbt"):
    """Fit the student on (scan features, teacher labels). Returns the
    fitted ``pyspark.ml`` PipelineModel, or None for degenerate corpora
    (empty, or single-class labels — e.g. a slice where everything
    passes), where a constant rule is the correct 'model'.

    ``model_type="gbt"`` (default): gradient-boosted trees — the
    curation gate is an AND of axis-aligned thresholds, which is
    exactly the function class trees represent, so agreement lands at
    ~0.97 on the fixture. ``"lr"``: class-weighted logistic regression
    over standardized features — the linear baseline (~0.87; the
    AND-corner is not linearly separable), kept because its dozen
    coefficients are human-auditable the way a 20-tree ensemble is not.
    Null-text rows featurize as 0 (fillna) identically at train and
    score time."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import (GBTClassifier,
                                           LogisticRegression)
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    train = (quality_doc_features(documents)
             .join(gate_labels(documents), "doc_id")
             .fillna(0.0, subset=list(FEATURE_COLS)))
    counts = {r["label"]: r["n"] for r in
              train.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    if len(counts) < 2 or None in counts:
        return None
    if model_type == "gbt":
        pipe = Pipeline(stages=[
            VectorAssembler(inputCols=list(FEATURE_COLS),
                            outputCol="features", handleInvalid="keep"),
            GBTClassifier(maxIter=max_iter, maxDepth=3, seed=7,
                          labelCol="label", featuresCol="features"),
        ])
        return pipe.fit(train)
    # linear tier: curation gates are heavily imbalanced (most crawl
    # text fails); unweighted LR learns the majority constant. Balance
    # with the standard n/(2·n_class) weights — one count agg.
    n_total = sum(counts.values())
    train = train.withColumn(
        "w", F.when(F.col("label") == 1.0,
                    F.lit(n_total / (2.0 * counts[1.0])))
              .otherwise(F.lit(n_total / (2.0 * counts[0.0]))))
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=list(FEATURE_COLS), outputCol="_raw",
                        handleInvalid="keep"),
        StandardScaler(inputCol="_raw", outputCol="features",
                       withMean=True, withStd=True),
        LogisticRegression(maxIter=max_iter, regParam=reg_param,
                           labelCol="label", featuresCol="features",
                           weightCol="w"),
    ])
    return pipe.fit(train)


def score_quality(documents: DataFrame, model) -> DataFrame:
    """Student scores over scan-side features only: ``(doc_id, source,
    quality_score)`` — the 100 TB path (no repetition kernel). A None
    model (degenerate corpus) scores everything 1.0."""
    from pyspark.ml.functions import vector_to_array

    feats = quality_doc_features(documents).fillna(
        0.0, subset=list(FEATURE_COLS))
    if model is None:
        return feats.select("doc_id", "source",
                            F.lit(1.0).alias("quality_score"))
    second = F.element_at(  # P(label=1) from the probability vector
        vector_to_array(F.col("probability")), 2)
    return (model.transform(feats)
            .select("doc_id", "source",
                    F.round(second, 4).alias("quality_score")))


def quality_model_report(documents: DataFrame,
                         threshold: float | None = None,
                         max_iter: int = 25) -> DataFrame:
    """Train + score + evaluate in one call: per source, the student/
    teacher agreement rate and score calibration — the distillation-
    loss report a pipeline owner reads before swapping the gate out.
    Columns: (source, n_docs, n_pass_teacher, n_pass_student,
    agreement).

    ``threshold=None`` (default) rate-matches: the score cut is the
    (1 − teacher pass rate) percentile of the scores, so the student
    passes the same FRACTION the teacher does and agreement measures
    pure ranking quality — the right operating point after weighted
    training shifts the posterior away from 0.5. Both calibration
    scalars are single tiny aggs."""
    model = train_quality_model(documents, max_iter=max_iter)
    scored = score_quality(documents, model)
    joined = scored.join(gate_labels(documents), "doc_id")
    if threshold is None:
        row = joined.agg(
            F.avg("label").alias("rate"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        rate = float(row["rate"] or 0.0)
        if 0.0 < rate < 1.0:
            threshold = float(joined.agg(F.expr(
                f"percentile(quality_score, {1.0 - rate!r})")).collect()[0][0])
        else:
            threshold = 0.5
    joined = joined.withColumn(
        "pred", (F.col("quality_score") >= threshold).cast("double"))
    return (joined.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("label").cast("long").alias("n_pass_teacher"),
                 F.sum("pred").cast("long").alias("n_pass_student"),
                 F.round(F.avg((F.col("pred") == F.col("label"))
                               .cast("double")), 4).alias("agreement"))
            .orderBy("source"))


def save_quality_model(model, path: str) -> None:
    """Persist the fitted student (train once on a labeled slice, score
    many corpora — the same production pattern as the persisted vector
    index's ``{path}/model``, ``similarity.write_vector_index``).
    Uses pyspark.ml's native MLWriter: the artifact is a few KB of tree/
    coefficient parquet any Spark job can load."""
    model.write().overwrite().save(path)


def load_quality_model(spark, path: str):
    """Reader twin of ``save_quality_model``."""
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)
