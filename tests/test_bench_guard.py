"""The bench regression guard (round-1 advice #10): bench.py must flag any
query that regresses >1.5x (and >1s absolute) vs the most recent
driver-recorded BENCH_r*.json, without ever suppressing the metrics line."""

from __future__ import annotations

import json

import pytest

from bench import find_regressions, load_prior_bench, materialize


def test_find_regressions_flags_only_real_slowdowns():
    prior = {"a": 2.0, "b": 0.4, "c": 3.0, "gone": 1.0}
    current = {"a": 3.5,   # 1.75x and +1.5s -> flagged
               "b": 0.9,   # 2.25x but only +0.5s -> noise, not flagged
               "c": 4.2,   # 1.4x -> under ratio, not flagged
               "new": 9.9}  # no prior -> not flagged
    assert find_regressions(current, prior) == ["a"]


def test_find_regressions_empty_prior():
    assert find_regressions({"a": 9.0}, {}) == []


def test_load_prior_bench_picks_latest_round(tmp_path):
    for n, val in ((1, 1.0), (3, 3.0), (2, 2.0)):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text(
            json.dumps({"parsed": {"queries": {"q": val}}}))
    assert load_prior_bench(str(tmp_path)) == {"q": 3.0}


def test_load_prior_bench_no_files(tmp_path):
    assert load_prior_bench(str(tmp_path)) == {}


def test_repo_has_prior_bench_for_guard():
    # Assert on the declared-surface intersection rather than any single
    # query name: round 7 displaced "wordcount" with "unicode_wordcount"
    # mid-stream, so a literal sentinel goes stale whenever the declared
    # list churns. A non-empty intersection is what the guard needs.
    from toymapreduce_go_spark.plans.queries import DECLARED

    prior = load_prior_bench("/root/repo")
    assert prior, "no usable BENCH_r*.json in the repo"
    assert set(prior) & set(DECLARED)


def test_load_prior_bench_ignores_other_scale_factor(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"q": 1.0}, "sf": 0.1}}))
    assert load_prior_bench(str(tmp_path), sf=1.0) == {}
    assert load_prior_bench(str(tmp_path), sf=0.1) == {"q": 1.0}


def test_load_prior_bench_falls_back_past_crashed_round(tmp_path):
    # A crashed round records parsed:null (round 5 did); the guard must
    # fall back to the most recent round with usable numbers.
    (tmp_path / "BENCH_r04.json").write_text(
        json.dumps({"parsed": {"queries": {"q": 4.0}}}))
    (tmp_path / "BENCH_r05.json").write_text(
        json.dumps({"parsed": None, "rc": 1}))
    assert load_prior_bench(str(tmp_path)) == {"q": 4.0}


def test_machine_speed_ratio_normalizes_uniform_drift():
    from bench import find_regressions, machine_speed_ratio

    prior = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0, "e": 2.0}
    # whole distribution 1.7x slower (host noise), nothing query-specific
    uniform = {q: round(v * 1.7, 3) for q, v in prior.items()}
    speed = machine_speed_ratio(uniform, prior)
    assert 1.6 < speed < 1.8
    assert find_regressions(uniform, prior, speed=speed) == []
    # a real regression still stands out after normalization
    real = dict(uniform, b=2.0 * 1.7 * 2.5)
    speed = machine_speed_ratio(real, prior)
    assert find_regressions(real, prior, speed=speed) == ["b"]


def test_speed_cap_keeps_guard_awake_on_fleet_wide_regression():
    """r6 advice: a code change slowing >=half the suite must not be
    absorbed into the host-drift normalization. With the cap, a 2.5x
    fleet-wide slowdown still flags (2.5 > 1.5 ratio * 1.5 cap), while
    genuine 1.8x host drift stays under the capped threshold."""
    from bench import SPEED_CAP, find_regressions, machine_speed_ratio

    prior = {q: 2.0 for q in "abcdef"}
    fleet_regressed = {q: 5.0 for q in "abcdef"}  # 2.5x everywhere
    speed = min(machine_speed_ratio(fleet_regressed, prior), SPEED_CAP)
    assert find_regressions(fleet_regressed, prior, speed=speed) == list("abcdef")
    host_drift = {q: 3.6 for q in "abcdef"}  # 1.8x everywhere
    speed = min(machine_speed_ratio(host_drift, prior), SPEED_CAP)
    assert find_regressions(host_drift, prior, speed=speed) == []


def test_machine_speed_ratio_clamps_on_faster_machine():
    from bench import machine_speed_ratio

    prior = {"a": 2.0, "b": 4.0, "c": 6.0}
    faster = {q: v / 2 for q, v in prior.items()}
    assert machine_speed_ratio(faster, prior) == 1.0


def test_load_prior_bench_tier2_key(tmp_path):
    """r10: the heavyweight pytest-only tier has its own baseline dict;
    rounds recorded before the tier existed yield {} (guard silent, not
    false-flagging)."""
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(
        {"parsed": {"queries": {"q": 1.0}, "tier2": {"h": 5.0},
                    "sf": 0.1}}))
    assert load_prior_bench(str(tmp_path), sf=0.1, key="tier2") == \
        {"h": 5.0}
    assert load_prior_bench(str(tmp_path), sf=0.1) == {"q": 1.0}
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(
        {"parsed": {"queries": {"q": 2.0}, "sf": 0.1}}))
    assert load_prior_bench(str(tmp_path), sf=0.1, key="tier2") == {}


def test_tier2_names_are_registered_and_disjoint():
    """Every tier2 name must be a real QUERIES entry (so the bench can
    run it) and NOT declared (so the headline total stays comparable
    across rounds). The names and their order are pinned too: bench
    guard baselines are keyed by them."""
    from bench import TIER2_QUERIES

    from toymapreduce_go_spark.plans.queries import DECLARED, QUERIES

    assert set(TIER2_QUERIES) <= set(QUERIES)
    assert not set(TIER2_QUERIES) & set(DECLARED)
    assert TIER2_QUERIES == ["image_phash", "audio_fingerprint",
                             "video_fingerprint", "heavy_hitters",
                             "semantic_dedup", "fetch_list",
                             "streaming_cycle"]


def test_tier2_guard_fires_on_planted_regression(tmp_path):
    """r11 (verdict item 8): this is the first round where a prior
    tier2 baseline exists — replay the bench's exact guard composition
    against a doctored prior file and verify the direction: a planted
    tier2 regression fires; uniform host drift absorbed by the
    declared-only speed normalization does not."""
    from bench import SPEED_CAP, machine_speed_ratio

    (tmp_path / "BENCH_r99.json").write_text(json.dumps(
        {"parsed": {"queries": {"q1": 1.0, "q2": 1.0},
                    "tier2": {"heavy": 4.0}, "sf": 0.1}}))
    prior = load_prior_bench(str(tmp_path), sf=0.1)
    prior.update(load_prior_bench(str(tmp_path), sf=0.1, key="tier2"))
    assert prior == {"q1": 1.0, "q2": 1.0, "heavy": 4.0}

    # planted: tier2 op 2.25x and +5s slower, declared tier steady
    timings = {"q1": 1.0, "q2": 1.1}
    speed = min(machine_speed_ratio(timings, prior), SPEED_CAP)
    assert find_regressions({**timings, "heavy": 9.0}, prior,
                            speed=speed) == ["heavy"]

    # whole-host 1.4x drift (declared AND tier2 lift together): the
    # declared-tier median sets the speed factor and nothing fires
    drifted = {q: round(v * 1.4, 3) for q, v in timings.items()}
    speed2 = min(machine_speed_ratio(drifted, prior), SPEED_CAP)
    assert find_regressions({**drifted, "heavy": 4.0 * 1.4}, prior,
                            speed=speed2) == []


def test_materialize_raises_when_the_noop_write_fails(spark):
    """A query whose full plan fails must reach the bench's ``errors``,
    not be timed as a ``count()`` that Catalyst prunes down to a row
    count (here the failing projection is never evaluated)."""
    from pyspark.sql import functions as F

    failing = spark.range(1).select(
        F.raise_error(F.lit("planted noop-write failure")))
    with pytest.raises(Exception, match="planted noop-write failure"):
        materialize(failing)
