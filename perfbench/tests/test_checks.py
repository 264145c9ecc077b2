"""A planted wrong row must make failed_frac non-zero."""
import os
import random

import checks
from spans import Tracer
from workloads import AnalyticsSweep, MrText


class FakeFrame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return list(self._rows)


class Ctx:
    seed, traced = 1, False

    def __init__(self, work):
        self.work = work
        self.tracer = Tracer()


def sweep_with(results, expected, tmp_path):
    wl = AnalyticsSweep(Ctx(str(tmp_path)))
    wl.names = sorted(results)
    wl.rng = random.Random(1)
    wl.catalog = str(tmp_path)
    wl.queries = {n: (lambda f: lambda spark, d: f)(f)
                  for n, f in results.items()}
    wl.results, wl.expected = [], expected
    wl.measure(1)
    wl.finish()
    return wl


def test_correct_rows_pass(tmp_path):
    rows = [("a", 1), ("b", 2.5)]
    want = checks.canonical(["k", "v"], rows)
    wl = sweep_with({"q": FakeFrame(["k", "v"], rows[::-1])},
                    {"q": want}, tmp_path)
    assert (wl.attempted, wl.failed) == (1, 0)


def test_planted_wrong_row_fails(tmp_path):
    good = [("a", 1), ("b", 2.5)]
    planted = [("a", 1), ("b", 2.6)]
    want = checks.canonical(["k", "v"], good)
    wl = sweep_with({"ok": FakeFrame(["k", "v"], good),
                     "bad": FakeFrame(["k", "v"], planted)},
                    {"ok": want, "bad": want}, tmp_path)
    assert wl.attempted == 2 and wl.failed == 1
    assert wl.failed / wl.attempted > 0
    assert any(e.startswith("bad:") for e in wl.errors)


def test_planted_wrong_sink_line_fails(tmp_path, monkeypatch):
    import toymapreduce_go_spark.mr.api as api
    import toymapreduce_go_spark.sources.sinks as sinks

    def fake_sink(df, path):
        os.makedirs(path)
        with open(os.path.join(path, "part-00000"), "w") as f:
            f.write(df)

    monkeypatch.setattr(api, "run_map_reduce_files",
                        lambda spark, m, r, files: outputs[m])
    monkeypatch.setattr(sinks, "write_text_kv", fake_sink)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "f.txt").write_text("a b a\n")
    uri = "file:" + str(corpus / "f.txt")
    wl = MrText(Ctx(str(tmp_path)))
    wl.corpus, wl.outputs = str(corpus), []
    wl.apps = {"wc": ("wc_map", None), "indexer": ("indexer_map", None)}
    # planted: b is in one file, not two
    outputs = {"wc_map": "b 1\na 2\n",
               "indexer_map": f"a 1 {uri}\nb 2 {uri}\n"}
    wl.measure(2)
    wl.finish()
    assert wl.attempted == 4 and wl.failed == 2
    assert all(e.startswith("indexer:") for e in wl.errors)


def test_sweep_query_set():
    from toymapreduce_go_spark.plans.queries import (DECLARED, ORACLES,
                                                     QUERIES)
    from workloads import MULTIMODAL_QUERIES, SWEEP_QUERIES

    assert len(SWEEP_QUERIES) == len(set(SWEEP_QUERIES))
    assert set(SWEEP_QUERIES) <= set(QUERIES)
    assert MULTIMODAL_QUERIES <= set(SWEEP_QUERIES)
    assert set(SWEEP_QUERIES) & set(DECLARED)
    # at least one query is checked without an oracle
    assert set(SWEEP_QUERIES) - set(ORACLES)


def test_nan_is_not_null():
    assert checks.canonical(["x"], [(float("nan"),)]) != checks.canonical(
        ["x"], [(None,)])
    assert checks.canonical(["x"], [(3.0,)]) == checks.canonical(["x"],
                                                                 [(3,)])


def test_pass_count_does_not_depend_on_the_host():
    wl = MrText(Ctx("."))
    assert wl.passes_for(0) == 1
    assert wl.passes_for(100 * wl.pass_budget_s) == 100
