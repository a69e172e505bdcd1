"""Self-tests for the benchmark's pure helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402
import workload as wl  # noqa: E402
from tracing import Tracer  # noqa: E402


# -- percentile rule ---------------------------------------------------------------
def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert stats.supported_tail(1000) == 99.0
    assert stats.supported_tail(5000) == 99.0
    assert stats.supported_tail(500) == pytest.approx(98.0)
    assert stats.supported_tail(200) == pytest.approx(95.0)
    assert stats.supported_tail(10) == 0.0
    for n in (11, 57, 200, 999, 1000, 4321):
        pct = stats.supported_tail(n)
        rank = stats.percentile(list(range(n)), pct)  # value == 0-based rank
        assert n - 1 - rank >= stats.TAIL_SAMPLES


def test_samples_needed_matches_the_rule():
    assert stats.samples_needed(95.0) == 200
    assert stats.samples_needed(90.0) == 100
    assert stats.samples_needed(99.0) == 1000
    for pct in (90.0, 95.0, 99.0):
        n = stats.samples_needed(pct)
        assert stats.supported_tail(n, pct) == pytest.approx(pct)
        assert stats.supported_tail(n - 1, pct) < pct


def test_latency_summary_reports_a_fixed_tail_or_none():
    s = stats.latency_summary([float(i) for i in range(1, 1001)], 99.0)
    assert s["n"] == 1000
    assert s["p50"] == 500.0
    assert s["tail_pct"] == 99.0
    assert s["tail"] == 990.0
    # the percentile does not move with the sample count
    assert stats.latency_summary([float(i) for i in range(1, 101)], 90.0)["tail"] == 90.0
    assert stats.latency_summary([float(i) for i in range(1, 301)], 90.0)["tail"] == 270.0
    small = stats.latency_summary([float(i) for i in range(1, 100)], 90.0)
    assert small["n"] == 99 and small["p50"] == 50.0 and small["tail"] is None
    assert stats.latency_summary([], 95.0)["n"] == 0


def test_percentile_is_nearest_rank():
    assert stats.percentile([1, 2, 3, 4], 50) == 2
    assert stats.percentile([1, 2, 3, 4], 51) == 3
    assert stats.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- key streams ---------------------------------------------------------------
KEYS = [b"%d-%d" % (o, ln) for o in range(2000) for ln in (1, 2, 3)]


def _draws(seed, client=0, *, zipf=True, miss_share=0.05, n=20):
    s = wl.KeyStream(KEYS, seed, client, zipf=zipf, miss_share=miss_share)
    return [s.request() for _ in range(n)]


def test_key_streams_are_deterministic_per_seed():
    assert _draws(7) == _draws(7)
    assert _draws(7, zipf=False) == _draws(7, zipf=False)
    assert _draws(7) != _draws(8)
    assert _draws(7, client=0) != _draws(7, client=1)


def test_miss_share_and_misses_are_absent():
    s = wl.KeyStream(KEYS, 3, 0, zipf=False, miss_share=0.3)
    keys = s.draw(20_000)
    present = set(KEYS)
    misses = [k for k in keys if k not in present]
    assert 0.28 < len(misses) / len(keys) < 0.32
    assert all(k.endswith(b"-%d" % wl.MISS_LINENUMBER) for k in misses)


def test_zipf_concentrates_on_a_seeded_hot_set():
    s = wl.KeyStream(KEYS, 3, 0, zipf=True, miss_share=0.0)
    keys = s.draw(20_000)
    top = max(set(keys), key=keys.count)
    assert keys.count(top) / len(keys) > 0.05  # rank 1 of a s=1.1 Zipf
    assert top == KEYS[s.perm[0]]
    other = wl.KeyStream(KEYS, 4, 0, zipf=True, miss_share=0.0)
    assert other.perm[0] != s.perm[0]


def test_update_batches_are_deterministic_and_confined_to_shards():
    a = wl.update_batch(KEYS, 1, 0, 100, wide=False, shards={3, 5}, num_shards=8)
    assert a == wl.update_batch(KEYS, 1, 0, 100, wide=False, shards={3, 5}, num_shards=8)
    keys, values = a
    assert len(set(keys)) == 100
    assert {wl.shard_of(k, 8) for k in keys} <= {3, 5}
    assert sum(k in set(KEYS) for k in keys) == 50
    assert all(v.startswith(b"u0:") for v in values)


# -- span self time ------------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    # parent [0, 100); children overlap each other and one spills past
    # the parent's end
    children = [(10, 30), (20, 40), (90, 120)]
    assert stats.covered_ns([(10, 30), (20, 40)]) == 30
    assert stats.self_time_ns(0, 100, children) == 100 - 30 - 10
    assert stats.self_time_ns(0, 100, children, inline_ns=5) == 100 - 30 - 10 - 5
    assert stats.self_time_ns(0, 100, [(200, 300)]) == 100
    assert stats.self_time_ns(0, 100, [(0, 100), (0, 100)]) == 0


def test_tracer_spans_link_parent_and_request():
    t = Tracer()
    with t.span("engine.serve", request=7):
        assert t.in_request()
        with t.span("store.resolve"):
            pass
        t.add_inline(3)
    assert not t.in_request()
    by_name = {s[3]: s for s in t.spans}
    serve, resolve = by_name["engine.serve"], by_name["store.resolve"]
    assert resolve[1] == serve[0]  # parent
    assert resolve[2] == serve[2] == 7  # request id
    assert t.inline_ns[serve[0]] == 3


def test_tracer_context_is_per_thread():
    t = Tracer()
    seen = []
    with t.span("engine.serve", request=1):
        th = threading.Thread(target=lambda: seen.append(t.current()))
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    assert seen == [None]


# -- Spark counters per job group ------------------------------------------------
def test_group_totals_count_shared_stages_once_and_skip_unrun():
    stage = {f: 1 for f in stats.STAGE_FIELDS}
    stages = {1: dict(stage, tasks=4), 2: dict(stage, tasks=8), 3: None}
    # job 11 reuses stage 1 (same shuffle); stage 3 was skipped
    totals = stats.group_totals({10: [1, 2], 11: [1, 3]}, stages)
    assert totals["jobs"] == 2
    assert totals["tasks"] == 12
    assert totals["cpu_ns"] == 2


def test_group_totals_do_not_mix_groups():
    stages = {1: {"tasks": 4, "cpu_ns": 100}, 2: {"tasks": 2, "cpu_ns": 50}}
    first = stats.group_totals({1: [1]}, stages)
    second = stats.group_totals({2: [2]}, stages)
    assert (first["tasks"], second["tasks"]) == (4, 2)
    mean = stats.mean_step([first, second])
    assert mean["tasks"] == 3 and mean["cpu_ns"] == 75 and mean["jobs"] == 1
    assert stats.mean_step([])["tasks"] == 0


# -- stale and wrong answers -----------------------------------------------------------
def test_oracle_flags_stale_and_wrong_reads():
    o = run.Oracle({b"a": b"1", b"b": b"2"})
    assert o.check(b"a", b"1", 0) is None
    assert o.check(b"a", b"x", 0) == "wrong"
    assert o.check(b"zz", None, 0) is None
    o.begin([b"a", b"n"], [b"10", b"new"])
    # while the update runs, both the old and the new value are allowed
    assert o.check(b"a", b"1", 50) is None
    assert o.check(b"a", b"10", 50) is None
    assert o.check(b"n", None, 50) is None
    o.commit([b"a", b"n"], 100)
    assert o.check(b"a", b"1", 99) is None  # started before it returned
    assert o.check(b"a", b"1", 101) == "stale"
    assert o.check(b"n", None, 101) == "stale"
    assert o.check(b"n", b"new", 101) is None
    assert o.check(b"a", b"zz", 101) == "wrong"
    assert o.current(b"a") == b"10"
    assert o.user_bytes() == (1 + 2) + (1 + 1) + (1 + 3)
