"""Map/Reduce compat API — parity with the reference's UDF plugin contract.

Reference contract (`pkg/mr/mr.go`):
- ``KeyValue{Key, Value string}``                       (mr.go:91-94)
- ``MapFunc(filename, content) -> []KeyValue``          (mr.go:96)
- ``ReduceFunc(valueIter) -> Iterator`` — called once per distinct key
  over the key's grouped values                         (mr.go:98, and the
  grouped ``KVIterator``/``NextKey`` stream it consumes, mr.go:50-89)
- the sequential-oracle convention ``reduce(key, values) -> value``
  (mrsequential.go:110) used by 7 of the 8 example apps (SURVEY.md App. A.7)

Spark mapping: the two-stage map→shuffle→reduce pipeline the reference
hardcodes (coordinator.go:124-133, :256-271) is one RDD chain:

    (filename, content) → mapPartitions(map_f, pre-group to (key, [values]))
        → repartitionAndSortWithinPartitions(n_reduce, portable_hash)
        → mapPartitions(group consecutive keys → reduce_f)

- *Input.* Files come from ``wholeTextFiles`` with the session's default
  parallelism as ``minPartitions``: ``CombineFileInputFormat`` packs
  whole files into byte-balanced splits, with no DataFrame round trip
  and no Spark job while the chain is built. DataFrame inputs enter the
  same chain through ``.rdd``.
- *Map side.* Each map task groups its emitted pairs by key with the
  spill-capable ``ExternalMerger`` that PySpark's ``groupByKey`` runs on
  its map side, bounded by ``spark.python.worker.memory``, and shuffles
  one ``(key, [values])`` record per key instead of one pickled pair per
  value. Values are only pre-grouped, never merged: this is not a user
  combiner.
- *Reduce side.* A sort shuffle, hash-partitioned with ``portable_hash``
  so every reduce partition is key-sorted like the reference's
  ``mr-out-N``; a streaming ``itertools.groupby`` hands ``reduce_f`` each
  key's values once, as a lazy iterator over the grouped lists.

Per Appendix A we implement the *oracle* semantics, not the reference's
broken distributed path: one reduce per distinct key globally (not
per-intermediate-file, A.3), output rows are (key, value) pairs (A.4).
Scheduling, shuffle transport, retry, barriers (F8, F10-F14) are Spark
core.

This layer is Python-row-based because it runs arbitrary plugin
functions (F15). Every *declared* query except ``mr_compat_wordcount``
uses the declarative operators instead.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable, Iterator
from operator import itemgetter
from typing import NamedTuple

from pyspark import RDD
from pyspark.rdd import portable_hash
from pyspark.shuffle import Aggregator, ExternalMerger
from pyspark.sql import DataFrame, SparkSession


class KeyValue(NamedTuple):
    """Compat twin of mr.KeyValue (mr.go:91-94)."""
    key: str
    value: str


MapFunc = Callable[[str, str], Iterable[KeyValue]]
# Grouped form (mr.go:98): receives (key, iterator-of-values), yields
# output value strings — the KVIterator/NextKey stream as a generator.
GroupedReduceFunc = Callable[[str, Iterator[str]], Iterable[str]]
# Sequential-oracle form (mrsequential.go:110): (key, [values]) -> value.
SimpleReduceFunc = Callable[[str, list[str]], str]


def simple_reduce(f: SimpleReduceFunc) -> GroupedReduceFunc:
    """Adapt the (key, values) -> value convention to the grouped form —
    the wrapper SURVEY.md Appendix A.7 calls for."""
    def grouped(key: str, values: Iterator[str]) -> Iterable[str]:
        yield f(key, list(values))
    return grouped


def _append(values: list[str], v: str) -> list[str]:
    values.append(v)
    return values


def _extend(values: list[str], more: list[str]) -> list[str]:
    values.extend(more)
    return values


# groupByKey's list aggregator: collects values, never merges them.
_PRE_GROUP = Aggregator(lambda v: [v], _append, _extend)


def _reduce_partition(groups: Iterator[tuple[str, list[str]]],
                      reduce_f: GroupedReduceFunc) -> Iterator[KeyValue]:
    """Consume one key-sorted partition of pre-grouped records, at most
    one ``(key, [values])`` per map task and key, and call reduce_f once
    per distinct key with a lazy iterator over all of that key's lists
    (the KVIterator contract, mr.go:50-89, minus the ErrStopIter
    sentinel — Python generators express it directly)."""
    for key, runs in itertools.groupby(groups, key=itemgetter(0)):
        values = itertools.chain.from_iterable(vs for _, vs in runs)
        for out in reduce_f(key, values):
            yield KeyValue(key, out)


def _map_reduce(spark: SparkSession, inputs: RDD, map_f: MapFunc,
                reduce_f: GroupedReduceFunc, n_reduce: int) -> DataFrame:
    """The one chain: ``inputs`` holds (filename, content) rows."""
    memory_mb = inputs._memory_limit()  # spark.python.worker.memory

    def map_partition(rows) -> Iterable[tuple[str, list[str]]]:
        merger = ExternalMerger(_PRE_GROUP, memory_mb * 0.9)
        merger.mergeValues((kv[0], kv[1]) for row in rows
                           for kv in map_f(str(row[0]), str(row[1])))
        return merger.items()

    out = (
        inputs.mapPartitions(map_partition)
        # sort-based shuffle, hash partitioner — F3/F4/F5/F6 in one call
        .repartitionAndSortWithinPartitions(
            numPartitions=n_reduce, partitionFunc=portable_hash)
        .mapPartitions(lambda groups: _reduce_partition(groups, reduce_f))
    )
    return spark.createDataFrame(out, schema="key string, value string")


def run_map_reduce(spark: SparkSession,
                   map_f: MapFunc,
                   reduce_f: GroupedReduceFunc,
                   inputs: DataFrame,
                   n_reduce: int = 4) -> DataFrame:
    """Run a map/reduce job over ``inputs``, a DataFrame whose first two
    columns are (filename/doc-id string, content string) — the reference's
    input unit (mr.go:96).

    Returns a DataFrame(key string, value string), one row per reduce
    output — the sequential oracle's "key value" line format
    (mrsequential.go:84).
    """
    return _map_reduce(spark, inputs.rdd, map_f, reduce_f, n_reduce)


def run_map_reduce_files(spark: SparkSession,
                         map_f: MapFunc,
                         reduce_f: GroupedReduceFunc,
                         path_glob: str,
                         n_reduce: int = 4) -> DataFrame:
    """File-path variant: whole-file (filename, content) input exactly like
    the reference's fsutil.ReadAll scan (util.go:7-21, worker.go:199).
    ``CombineFileInputFormat`` packs whole files into about
    ``defaultParallelism`` byte-balanced splits, so the map side's
    balance depends on the file sizes, not on where the files live.
    Fine for plugin-compat corpora; at 100 TB use the documents table or
    ``sources.read_text_corpus`` — never whole-file reads (SURVEY.md §7).
    """
    sc = spark.sparkContext
    files = sc.wholeTextFiles(path_glob, minPartitions=sc.defaultParallelism)
    return _map_reduce(spark, files, map_f, reduce_f, n_reduce)


# ---------------------------------------------------------------------------
# Compat twins of the reference's example apps (example/mrapps/*), usable
# as plug-in UDF pairs with run_map_reduce.

import re

_WORD_RE = re.compile(r"[A-Za-z]+")


def wc_map(filename: str, content: str) -> list[KeyValue]:
    """wc.go:24-37 — one ("word","1") per occurrence (ASCII-letter tokens,
    FIXTURES.md §1 contract)."""
    return [KeyValue(w, "1") for w in _WORD_RE.findall(content)]


def wc_reduce(key: str, values: Iterator[str]) -> Iterable[str]:
    """wc.go:44-55 — count the group (streaming, O(1) memory)."""
    yield str(sum(1 for _ in values))


def indexer_map(filename: str, content: str) -> list[KeyValue]:
    """indexer.go:22-31 — distinct words per doc."""
    return [KeyValue(w, filename) for w in sorted(set(_WORD_RE.findall(content)))]


def indexer_reduce(key: str, values: Iterator[str]) -> Iterable[str]:
    """indexer.go:38-41 — "{n} doc1,doc2,...": sorted doc list."""
    docs = sorted(set(values))
    yield f"{len(docs)} {','.join(docs)}"
