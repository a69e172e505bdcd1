"""Decoded-group probe tests: a cached row group answers point probes by
bisecting its sorted keys and matching only the candidate rows
(engine._probe_group). Every answer must agree with the uncached local
path and with the Spark read path; unsorted groups and large batches
must hash the whole group instead."""

from __future__ import annotations

import itertools
import os
from unittest import mock

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elephantdb_spark import DomainSpec, build_domain, engine
from elephantdb_spark.engine import Domain
from elephantdb_spark.store import DomainStore, shard_dirname

#: filler rows: enough that one group bisects for a point get under the
#: default cost rule (n >= SORTED_PROBE_COST * bit_length(n))
FILLER = [(f"m{i:05d}".encode(), f"v{i}".encode()) for i in range(2000)]

EDGE = [
    (b"a", b"va"),
    (b"a\x00", b"va0"),
    (b"a\x00\x00", b"va00"),
    (b"ab", b"vab"),
    (b"nullval", None),
]


@pytest.fixture(scope="module")
def edge_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gp") / "edge")
    build_domain(
        spark,
        spark.createDataFrame(EDGE + FILLER, "key binary, value binary"),
        root,
        DomainSpec(num_shards=1),
        version=1,
    )
    return root


def _publish(root: str, version: int, keys, values, stats=True) -> None:
    """Publish ``version`` of a one-shard domain as one pyarrow-written
    row group, in the given row order (the Spark build would sort it).
    Without ``stats`` every key reaches the group probe, out-of-range
    ones included."""
    store = DomainStore.open(root)
    sdir = os.path.join(store.version_path(version), shard_dirname(0))
    os.makedirs(sdir)
    pq.write_table(
        pa.table(
            {
                "key": pa.array(keys, type=pa.binary()),
                "value": pa.array(values, type=pa.binary()),
            }
        ),
        os.path.join(sdir, "part-00000.parquet"),
        write_statistics=stats,
    )
    store.succeed_version(version)


def _agree(spark, root: str, keys: list[bytes]) -> dict:
    """local_multi_get (cold, then warm-cached) == uncached == Spark."""
    cached = Domain(spark, root)
    off = Domain(spark, root)
    off._rg_cache_budget = 0
    first = cached.local_multi_get(keys)
    assert cached._rg_cache, "group never cached"
    warm = cached.local_multi_get(keys)
    assert first == warm == off.local_multi_get(keys) == cached.multi_get(keys)
    for k in keys:  # single-key probes take the bisect path
        assert cached.local_get(k) == warm[k]
    return warm


def test_prefix_and_trailing_nul_keys(spark, edge_root):
    truth = dict(EDGE + FILLER)
    keys = [k for k, _ in EDGE]
    got = _agree(spark, edge_root, keys)
    assert got == {k: truth[k] for k in keys}


def test_misses_around_and_between_keys(spark, edge_root):
    misses = [
        b"",  # before the first key
        b"\x00",
        b"Z",
        b"zzz",  # after the last key
        b"\xff\xff",
        b"a\x00\x01",  # between adjacent keys
        b"a\x00\x00\x00",
        b"aa",
        b"m00000\x00",
        b"m01999\x00",
    ]
    got = _agree(spark, edge_root, misses)
    assert got == {k: None for k in misses}


def test_null_values_come_back_as_none(spark, edge_root):
    got = _agree(spark, edge_root, [b"nullval", b"a"])
    assert got == {b"nullval": None, b"a": b"va"}


def test_duplicate_keys_return_first_occurrence(spark, tmp_path):
    root = str(tmp_path / "dup")
    build_domain(
        spark,
        spark.createDataFrame([(b"x", b"x")], "key binary, value binary"),
        root,
        DomainSpec(num_shards=1),
        version=1,
    )
    rows = sorted(FILLER + [(b"m00500", b"second"), (b"m00500", b"third")],
                  key=lambda kv: kv[0])  # stable: the filler row is first
    keys, values = zip(*rows)
    _publish(root, 2, keys, values)
    cached = Domain(spark, root)
    off = Domain(spark, root)
    off._rg_cache_budget = 0
    for _ in range(2):  # cold decode, then the cached group
        assert cached.local_get(b"m00500") == b"v500"
        assert cached.local_multi_get([b"m00500", b"m00501"]) == {
            b"m00500": b"v500", b"m00501": b"v501",
        }
    assert off.local_get(b"m00500") == b"v500"
    # which duplicate the Spark join returns is unspecified; the local
    # answer must be one of the rows it matches
    spark_vals = {
        bytes(r.value)
        for r in cached.multi_get_df([b"m00500"]).collect()
    }
    assert spark_vals == {b"v500", b"second", b"third"}


class _IndexInSpy:
    """Records len(value_set) of every pc.index_in call."""

    def __init__(self):
        self.sizes: list[int] = []
        self._orig = pc.index_in

    def __call__(self, *args, **kwargs):
        self.sizes.append(len(kwargs["value_set"]))
        return self._orig(*args, **kwargs)


def test_unsorted_group_probes_whole_group(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "unsorted")
    build_domain(
        spark,
        spark.createDataFrame([(b"x", b"x")], "key binary, value binary"),
        root,
        DomainSpec(num_shards=1),
        version=1,
    )
    rows = FILLER[::-1]  # descending: one deliberately unsorted group
    keys, values = zip(*rows)
    _publish(root, 2, keys, values)
    dom = Domain(spark, root)
    assert dom.local_get(b"m00000") == b"v0"  # cold: decode + cache
    (group,) = dom._rg_cache.values()
    assert group.sorted_view is None
    spy = _IndexInSpy()
    monkeypatch.setattr(pc, "index_in", spy)
    for k, v in [(b"m01999", b"v1999"), (b"m00123", b"v123"),
                 (b"m00123\x00", None)]:
        assert dom.local_get(k) == v
    assert spy.sizes == [len(rows)] * 3


def test_cached_point_get_matches_only_candidates(spark, edge_root, monkeypatch):
    dom = Domain(spark, edge_root)
    dom.local_get(b"m00001")  # warm the one group
    (group,) = dom._rg_cache.values()
    n = len(group.keys)
    assert group.sorted_view is not None
    spy = _IndexInSpy()
    monkeypatch.setattr(pc, "index_in", spy)
    assert dom.local_get(b"m00042") == b"v42"
    assert dom.local_get(b"a\x00") == b"va0"
    assert dom.local_get(b"m00042\x00") is None
    assert dom.local_multi_get([b"a", b"m00007"]) == {
        b"a": b"va", b"m00007": b"v7",
    }
    assert spy.sizes == [1, 1, 1, 2]  # one index_in per group probe

    # a batch past the cost rule hashes the whole group
    spy.sizes.clear()
    w = n // (n.bit_length() * engine.SORTED_PROBE_COST) + 1
    batch = [k for k, _ in FILLER[:w]]
    assert dom.local_multi_get(batch) == dict(FILLER[:w])
    assert spy.sizes == [n]


def test_statless_group_misses_before_and_after(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "statless")
    build_domain(
        spark,
        spark.createDataFrame([(b"x", b"x")], "key binary, value binary"),
        root,
        DomainSpec(num_shards=1),
        version=1,
    )
    keys, values = zip(*FILLER)
    _publish(root, 2, keys, values, stats=False)
    dom = Domain(spark, root)
    assert dom.local_get(b"m00007") == b"v7"  # cold: decode + cache
    spy = _IndexInSpy()
    monkeypatch.setattr(pc, "index_in", spy)
    for k in (b"", b"a", b"m", b"m01999\x00", b"zzz", b"\xff"):
        assert dom.local_get(k) is None
    assert dom.local_get(b"m01999") == b"v1999"
    assert spy.sizes == [1] * 7


@pytest.fixture(scope="module")
def prop_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gp") / "prop")
    build_domain(
        spark,
        spark.createDataFrame([(b"x", b"x")], "key binary, value binary"),
        root,
        DomainSpec(num_shards=1),
        version=1,
    )
    return root


_versions = itertools.count(2)
_bytes = st.binary(max_size=5)


@given(
    keys=st.sets(_bytes, min_size=1, max_size=200),
    extra=st.lists(_bytes, max_size=20),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_probe_property_random_binary_keys(spark, prop_root, keys, extra, data):
    keys = sorted(keys)
    values = [None if i % 7 == 3 else b"v" + k for i, k in enumerate(keys)]
    probe = data.draw(st.lists(st.sampled_from(keys), max_size=20)) + extra
    _publish(prop_root, next(_versions), keys, values,
             stats=data.draw(st.booleans()))
    truth = dict(zip(keys, values))
    want = {k: truth.get(k) for k in probe}
    spark_got = Domain(spark, prop_root).multi_get(probe) if probe else {}
    # cost 0: every probe bisects; 10**9: every probe hashes the group
    for cost in (0, 10**9):
        with mock.patch.object(engine, "SORTED_PROBE_COST", cost):
            cached = Domain(spark, prop_root)
            off = Domain(spark, prop_root)
            off._rg_cache_budget = 0
            for _ in range(2):  # cold decode, then the cached group
                assert cached.local_multi_get(probe) == want
            assert off.local_multi_get(probe) == want
            for k in probe[:5]:
                assert cached.local_get(k) == want[k]
    assert spark_got == want


def test_concurrent_point_gets_share_one_cached_group(spark, edge_root):
    """Many threads probe the same cached group's sorted view at once."""
    import sys
    import threading

    dom = Domain(spark, edge_root)
    dom.local_get(b"m00000")  # warm the one group
    truth = dict(EDGE + FILLER)
    probes = [k for k, _ in FILLER[::37]] + [b"a\x00", b"m00100\x00"]
    wrong: list[bytes] = []

    def worker(offset: int) -> None:
        for k in probes[offset:] + probes[:offset]:
            if dom.local_get(k) != truth.get(k):
                wrong.append(k)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(dom._rg_cache) == 1
