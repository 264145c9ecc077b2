"""Map/reduce compat API tests — parity with the reference's plugin
contract (pkg/mr/mr.go) and with the declarative operators."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from conftest import SF_DIR
from pyspark import TaskContext

from toymapreduce_go_spark.mr.api import (KeyValue, indexer_map,
                                          indexer_reduce, run_map_reduce,
                                          run_map_reduce_files, simple_reduce,
                                          wc_map, wc_reduce)
from toymapreduce_go_spark.operators.text_mr import wordcount
from toymapreduce_go_spark.sources.registry import load_table
from toymapreduce_go_spark.sources.sinks import write_text_kv


def test_wc_matches_declarative(spark):
    """mr-compat wordcount == DataFrame wordcount (the §2d #16 parity)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    mr = run_map_reduce(spark, wc_map, wc_reduce, docs, n_reduce=4)
    mr_rows = {(r.key, int(r.value)) for r in mr.collect()}
    df_rows = {(r.word, r.cnt) for r in wordcount(
        load_table(spark, SF_DIR, "documents")).collect()}
    assert mr_rows == df_rows


def test_grouped_reduce_streams_per_key(spark):
    """ReduceFunc is called once per distinct key with that key's whole
    value group (oracle semantics, mrsequential.go:71-87 — NOT the
    reference's broken per-file reduce, Appendix A.3)."""
    rows = [("f1", "a a b"), ("f2", "b c")]
    docs = spark.createDataFrame(rows, "filename string, content string")

    seen: list[tuple[str, int]] = []

    def reduce_f(key, values):
        vals = list(values)
        yield f"{len(vals)}"

    out = run_map_reduce(spark, wc_map, reduce_f, docs, n_reduce=2)
    got = {(r.key, r.value) for r in out.collect()}
    # b appears in both files: exactly ONE reduce group of size 2
    assert got == {("a", "2"), ("b", "2"), ("c", "1")}
    _ = seen


def test_simple_reduce_wrapper(spark):
    """The (key, [values]) -> value convention (7 of 8 reference apps)."""
    docs = spark.createDataFrame([("f1", "x y"), ("f2", "y")],
                                 "filename string, content string")
    out = run_map_reduce(
        spark, wc_map, simple_reduce(lambda k, vs: str(len(vs))), docs, 2)
    assert {(r.key, r.value) for r in out.collect()} == {("x", "1"), ("y", "2")}


def test_indexer_app(spark):
    """indexer.go semantics: '{n} doc1,doc2' with sorted distinct docs."""
    docs = spark.createDataFrame(
        [("d1", "apple banana apple"), ("d2", "banana cherry")],
        "filename string, content string")
    out = run_map_reduce(spark, indexer_map, indexer_reduce, docs, 2)
    got = {(r.key, r.value) for r in out.collect()}
    assert got == {("apple", "1 d1"), ("banana", "2 d1,d2"),
                   ("cherry", "1 d2")}


def test_whole_file_input(spark, tmp_path):
    """run_map_reduce_files: wholeTextFiles (filename, content) input unit
    — the reference's F1 scan (fsutil.ReadAll)."""
    for name, text in [("a.txt", "hello world"), ("b.txt", "hello")]:
        (tmp_path / name).write_text(text)
    out = run_map_reduce_files(
        spark, wc_map, wc_reduce, f"file://{tmp_path}/*.txt", 2)
    got = {(r.key, int(r.value)) for r in out.collect()}
    assert got == {("hello", 2), ("world", 1)}


def test_kv_is_stringly_typed():
    """KeyValue mirrors mr.KeyValue{Key,Value string} (mr.go:91-94)."""
    kv = KeyValue("k", "v")
    assert kv.key == "k" and kv.value == "v"
    assert wc_map("f", "one two one") == [
        KeyValue("one", "1"), KeyValue("two", "1"), KeyValue("one", "1")]


# ---------------------------------------------------------------------------
# Map side of run_map_reduce_files: byte-balanced whole-file splits, built
# without a Spark job, independent of where the corpus lives.


def _write_equal_corpus(root: Path, n_files: int) -> Path:
    """``n_files`` (< 1,000) files of exactly 4,000 bytes: 800 four-letter
    words, seven distinct ones per file, none shared between files."""
    root.mkdir(parents=True)
    for i in range(n_files):
        stem = "".join("abcdefghij"[int(d)] for d in f"{i:03d}")
        words = " ".join(stem + "abcdefg"[j % 7] for j in range(800))
        (root / f"doc-{i:03d}.txt").write_text(words.ljust(4000))
    return root


def _map_partitions_of(spark, corpus: Path) -> dict[str, str]:
    """{file name: id of the map partition that read it}. The probe is
    nested so that it is pickled by value (workers cannot import this
    test module)."""
    def partition_probe(filename, content):
        return [KeyValue(Path(filename).name,
                         str(TaskContext.get().partitionId()))]

    out = run_map_reduce_files(spark, partition_probe,
                               simple_reduce(lambda k, vs: vs[0]),
                               f"file://{corpus}/*.txt", 2)
    return {r.key: r.value for r in out.collect()}


def _file_sets(assignment: dict[str, str]) -> set[frozenset[str]]:
    groups: dict[str, set[str]] = {}
    for name, pid in assignment.items():
        groups.setdefault(pid, set()).add(name)
    return {frozenset(g) for g in groups.values()}


def test_files_frame_builds_without_a_spark_job(spark, tmp_path):
    """Building the frame runs no job: the input is not round-tripped
    through a DataFrame whose ``.rdd`` would execute an AQE exchange."""
    corpus = _write_equal_corpus(tmp_path / "corpus", 6)
    sc = spark.sparkContext
    group = "mr-files-construct"
    sc.setJobGroup(group, "construct")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        df = run_map_reduce_files(spark, wc_map, wc_reduce,
                                  f"file://{corpus}/*.txt", 2)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before
    assert {(r.key, r.value) for r in df.collect()} >= {("aaaa", "115")}


def test_file_split_does_not_depend_on_the_directory(spark, tmp_path):
    """The same corpus under two differently named directories lands in
    the same per-partition file sets, so timings of one corpus do not
    move with the checkout path."""
    n = 2 * spark.sparkContext.defaultParallelism + 3
    first = _write_equal_corpus(tmp_path / "a" / "corpus", n)
    second = tmp_path / "zz-another-name" / "texts"
    shutil.copytree(first, second)
    one, two = _map_partitions_of(spark, first), _map_partitions_of(spark, second)
    assert len(one) == len(two) == n
    assert _file_sets(one) == _file_sets(two)


@pytest.mark.parametrize("per_core", [0.5, 2])
def test_map_side_uses_every_core(spark, tmp_path, per_core):
    """At least ``min(n_files, defaultParallelism)`` map partitions get a
    file (equal-size files, fewer than and a multiple of the cores)."""
    cores = spark.sparkContext.defaultParallelism
    n = max(1, int(cores * per_core))
    corpus = _write_equal_corpus(tmp_path / "corpus", n)
    assignment = _map_partitions_of(spark, corpus)
    assert len(assignment) == n
    assert len(set(assignment.values())) >= min(n, cores)


# ---------------------------------------------------------------------------
# Reduce contract under map-side pre-grouping.


def test_key_from_every_map_partition_reduces_once(spark):
    """A key emitted by every map task is reduced in ONE reduce_f call
    that sees every value, though each map task shuffles its own
    pre-grouped list for it."""
    n = 2 * spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(f"d{i}", "x") for i in range(n)],
        "filename string, content string").repartition(n)

    def map_f(filename, content):
        pid = str(TaskContext.get().partitionId())
        return [KeyValue("shared", f"{filename}@{pid}"),
                KeyValue(filename, "1")]

    def reduce_f(key, values):
        yield "|".join(sorted(values))

    rows = [(r.key, r.value)
            for r in run_map_reduce(spark, map_f, reduce_f, docs, 3).collect()]
    shared = [v for k, v in rows if k == "shared"]
    assert len(shared) == 1
    values = shared[0].split("|")
    assert sorted(v.split("@")[0] for v in values) == sorted(
        f"d{i}" for i in range(n))
    assert len({v.split("@")[1] for v in values}) > 1
    assert len(rows) == n + 1


def test_pre_grouping_spills_without_losing_values():
    """Past its memory limit the map-side merger spills and merges the
    spilled lists back: every value stays, one list per key."""
    from pyspark.shuffle import ExternalMerger

    from toymapreduce_go_spark.mr.api import _PRE_GROUP

    merger = ExternalMerger(_PRE_GROUP, memory_limit=1)
    merger.mergeValues((f"k{i % 50}", str(i)) for i in range(20_000))
    assert merger.spills > 0
    got = {k: sorted(vs, key=int) for k, vs in merger.items()}
    assert got == {f"k{j}": [str(i) for i in range(j, 20_000, 50)]
                   for j in range(50)}


def test_hot_key_counts_exactly(spark):
    """One key with 60,000 values across four map tasks counts exactly."""
    docs = spark.createDataFrame(
        [(f"f{i}", " ".join(["hot"] * 15_000 + ["cold" + "abcd"[i]]))
         for i in range(4)],
        "filename string, content string").repartition(4)
    got = {(r.key, r.value) for r in run_map_reduce(
        spark, wc_map, wc_reduce, docs, 2).collect()}
    assert got == {("hot", "60000")} | {("cold" + c, "1") for c in "abcd"}


def test_every_part_file_is_key_sorted(spark, tmp_path):
    """Each reduce partition is written key-sorted on its own — the
    reference's per-reduce-file ``mr-out-N`` order."""
    corpus = _write_equal_corpus(tmp_path / "corpus", 8)
    out = tmp_path / "out"
    write_text_kv(run_map_reduce_files(spark, wc_map, wc_reduce,
                                       f"file://{corpus}/*.txt", 3),
                  str(out))
    parts = sorted(out.glob("part-*"))
    assert len(parts) > 1
    seen = 0
    for part in parts:
        keys = [ln.split(" ", 1)[0] for ln in part.read_text().splitlines()]
        assert keys == sorted(keys), part.name
        assert len(keys) == len(set(keys))
        seen += len(keys)
    assert seen == 8 * 7
