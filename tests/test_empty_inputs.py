"""Empty-input robustness matrix.

At 100 TB a query routinely meets zero-row inputs: a date-partition
filter prunes everything, a tenant has no documents yet, a streaming
micro-batch is empty. The reference's runtime has the same property by
construction (a map task over an empty file emits no KVs and the job
still completes — `internal/worker/worker.go` never special-cases empty
input). Every declared query must therefore run on *schema-only* tables
and return an empty (or defined-on-empty, e.g. a global aggregate's
single row) result — never raise.

The fixture writes one empty parquet per catalog table with the exact
sf0.001 schema, then drives the FULL ``plans.queries.QUERIES`` surface
(declared + pytest-only) against it.
"""

from __future__ import annotations

import os

import pytest

from conftest import SF_DIR
from toymapreduce_go_spark.plans.queries import QUERIES
from toymapreduce_go_spark.sources.registry import TABLES

# Queries whose result is DEFINED on empty input but non-empty:
#   - global aggregates with no GROUP BY would be here if we had any
#     (all declared aggs are grouped, so they collapse to zero rows).
#   - ann_ivf* train centroids from the corpus; with zero vectors there
#     is nothing to index and the correct result is zero rows.
EXPECTED_NONEMPTY: dict[str, int] = {
    # global (ungrouped) aggregate: one all-zeros report row is the
    # correct result for an empty corpus
    "sequence_packing": 1,
    # one report row per funnel step (zero users, zero checksum) is
    # the correct empty-catalog funnel — the oracle's UNION ALL of
    # ungrouped aggregates produces the same three rows
    "event_funnel": 3,
}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """Schema-only twin of the test catalog: one zero-row parquet per
    table, schemas read (not guessed) from the sf0.001 fixtures."""
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = spark.read.parquet(
            os.path.join(SF_DIR, f"{t}.parquet")).schema
        (spark.createDataFrame([], schema)
         .write.mode("overwrite")
         .parquet(str(root / f"{t}.parquet")))
    return str(root)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_empty_catalog(spark, empty_sf_dir, name):
    df = QUERIES[name](spark, empty_sf_dir)
    rows = df.count()
    assert rows == EXPECTED_NONEMPTY.get(name, 0), (
        f"{name}: expected {EXPECTED_NONEMPTY.get(name, 0)} rows on an "
        f"empty catalog, got {rows}")
    # The schema must be intact even with no rows — downstream writers
    # and the driver's schema check rely on it.
    assert df.columns, f"{name}: empty-input result lost its schema"


@pytest.fixture(scope="module")
def single_row_sf_dir(spark, tmp_path_factory):
    """One-row twin of the catalog (each table's first row by its id
    ordering): the degenerate-but-nonempty regime where model-building
    paths (centroid training, greatest() argmaxes, windows, sketches)
    historically break. FK consistency doesn't hold and doesn't need to
    — the contract is only 'never raise'."""
    root = tmp_path_factory.mktemp("single_sf")
    for t in TABLES:
        df = spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet"))
        (df.limit(1)
         .write.mode("overwrite").parquet(str(root / f"{t}.parquet")))
    return str(root)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_single_row_catalog(spark, single_row_sf_dir, name):
    df = QUERIES[name](spark, single_row_sf_dir)
    df.count()  # must evaluate without raising
    assert df.columns


@pytest.fixture(scope="module")
def nulled_sf_dir(spark, tmp_path_factory):
    """Dirty-data twin: every third document's text and every fifth's
    lang is NULL (dirty crawls do ship null payloads at 100 TB), and a
    slice of the remainder is EMPTY or ONE-TOKEN text — NULL text
    short-circuits most expressions, so short-but-present docs are the
    rows that actually exercise degenerate array paths (r7 advice: a
    descending sequence(1,0) in the bigram transform crashed exactly
    here). Other tables pass through — the TPC-H side is NOT NULL by
    fixture contract. The query contract on dirty rows is 'never
    raise'."""
    import pyspark.sql.functions as F
    root = tmp_path_factory.mktemp("nulled_sf")
    for t in TABLES:
        df = spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet"))
        if t == "documents":
            df = df.withColumn(
                "text", F.when(F.col("doc_id") % 3 == 0, F.lit(None))
                .when(F.col("doc_id") % 7 == 1, F.lit(""))
                .when(F.col("doc_id") % 7 == 2, F.lit("solo"))
                .otherwise(F.col("text"))).withColumn(
                "lang", F.when(F.col("doc_id") % 5 == 0, F.lit(None))
                .otherwise(F.col("lang")))
        df.write.mode("overwrite").parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_nulled_documents(spark, nulled_sf_dir, name):
    df = QUERIES[name](spark, nulled_sf_dir)
    df.count()  # must evaluate without raising
    assert df.columns


def test_ivf_survives_single_vector_corpus(spark):
    """A one-vector corpus exercises the 1-centroid model path (a plain
    greatest() argmax would reject a single operand) and a sample smaller
    than n_cells in the trained tier. The lone vector is its own centroid
    and the only probe, and self-matches are excluded — so zero rows."""
    from toymapreduce_go_spark.operators import similarity

    one = spark.createDataFrame(
        [(0, [1.0, 0.0, 2.0], "a")],
        "vec_id long, embedding array<float>, label string")
    assert similarity.ann_ivf(one).count() == 0
    assert similarity.ann_ivf_trained(one).count() == 0
    two = spark.createDataFrame(
        [(0, [1.0, 0.0, 2.0], "a"), (1, [1.0, 0.1, 2.0], "b")],
        "vec_id long, embedding array<float>, label string")
    # with two vectors each probe's sole candidate is the other vector
    assert similarity.ann_ivf(two).count() == 2
    assert similarity.ann_ivf_trained(two).count() == 2


def test_ivf_model_save_load_roundtrip(spark, tmp_path):
    """A persisted index (train once, probe from many jobs) must
    reproduce the in-session trained tier exactly, and tolerate an
    empty-model edge."""
    from toymapreduce_go_spark.operators.similarity import (
        ann_ivf_trained, ann_query_index, write_vector_index)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index = f"file://{tmp_path}/ivf_index"
    write_vector_index(emb, index)
    got = sorted(tuple(r) for r in
                 ann_query_index(emb, index).collect())
    want = sorted(tuple(r) for r in ann_ivf_trained(emb).collect())
    assert got == want
    # empty corpus -> empty model -> empty (not crashed) probe result
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label string")
    write_vector_index(empty, f"file://{tmp_path}/empty_index")
    assert ann_query_index(
        emb, f"file://{tmp_path}/empty_index").count() == 0


def test_ivf_pq_model_save_load_roundtrip(spark, tmp_path):
    """A persisted IVF-PQ model must reproduce the in-session training
    exactly (coarse centroids, every per-subspace codebook, and the r9
    by_residual flag — in both training modes)."""
    from toymapreduce_go_spark.operators.similarity import (
        PQ_SAMPLE_SIZE, _train_pq_codebooks, load_vector_index_model,
        pq_residuals, train_ivf_centroids, write_vector_index_pq)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sample_rows = (emb.orderBy("vec_id").limit(256)
                   .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    want_cents = train_ivf_centroids(sample, 8)
    vecs = [v for _, v in sample]

    path = f"file://{tmp_path}/ivfpq_index"
    # default: residual codebooks; coarse trained on the same 256
    write_vector_index_pq(emb, path, sample_size=PQ_SAMPLE_SIZE)
    cents, books, by_residual = load_vector_index_model(spark, path)
    assert by_residual
    assert cents == list(enumerate(want_cents))
    assert books == _train_pq_codebooks(pq_residuals(vecs, want_cents))

    raw_path = f"file://{tmp_path}/ivfpq_index_raw"
    write_vector_index_pq(emb, raw_path, sample_size=PQ_SAMPLE_SIZE,
                          by_residual=False)
    cents_r, books_r, flag_r = load_vector_index_model(spark, raw_path)
    assert not flag_r
    assert cents_r == list(enumerate(want_cents))
    assert books_r == _train_pq_codebooks(vecs)
