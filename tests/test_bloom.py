"""Bloom sidecar tests: sizing/serialization unit properties, the
no-false-negative guarantee, and the build/update/compact/serving
integration (bloom.py; consult point engine.py::local_multi_get).

The reference's miss path is an O(log n) B-tree descent over cached
pages (JavaBerkDB.java:70-82); the sidecar is our analogue — a miss
answered in memory instead of a row-group decode."""

from __future__ import annotations

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F

from elephantdb_spark import DomainSpec, Engine, build_domain, update_domain
from elephantdb_spark.bloom import (
    BloomFilter,
    build_bloom_sidecars,
    load_sidecar,
    sidecar_path,
)
from elephantdb_spark.build import compact_domain


# ---------------------------------------------------------------- unit

def test_no_false_negatives_and_fpp():
    keys = [f"key-{i}".encode() for i in range(5000)]
    bf = BloomFilter.build(keys, fpp=0.01)
    assert all(bf.might_contain(k) for k in keys)  # NEVER a false negative
    misses = sum(
        bf.might_contain(f"other-{i}".encode()) for i in range(10000)
    )
    assert misses / 10000 < 0.03  # ~1% target, generous cap


def test_roundtrip_and_validation():
    bf = BloomFilter.build([b"a", b"b", b""], fpp=0.05)
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert (bf2.m, bf2.k, bf2.n, bf2.bits) == (bf.m, bf.k, bf.n, bf.bits)
    with pytest.raises(ValueError, match="magic"):
        BloomFilter.from_bytes(b"X" * 64)
    with pytest.raises(ValueError, match="truncated"):
        BloomFilter.from_bytes(b"EDB")
    with pytest.raises(ValueError, match="size"):
        BloomFilter.from_bytes(bf.to_bytes()[:-1])
    with pytest.raises(ValueError, match="fpp"):
        BloomFilter.build([b"a"], fpp=1.5)
    # impossible headers: m = 0 (every probe would divide by zero), k > m
    # (an unbounded (keys, k) position matrix) and k·m ≥ 2^64 (uint64
    # positions would wrap); the first two have well-formed lengths
    for m, k, nbits in [(0, 7, 0), (64, 65, 8), (1 << 40, 1 << 24, 0)]:
        with pytest.raises(ValueError, match="header"):
            BloomFilter.from_bytes(
                struct.pack("<8sQIQ", b"EDBBLOOM", m, k, 1) + bytes(nbits)
            )


def test_add_batch_byte_identical_to_add_loop():
    """VERDICT r7 item 3: the vectorized builder must keep the sidecar
    FORMAT AND BYTES unchanged — same filter as the scalar add() loop on
    a fixture with empty keys, duplicates, long keys, and every byte
    value, across fpp/size corners (including the m=64 clamp where k is
    large)."""
    import random

    rng = random.Random(8)
    keys = (
        [b"", b"", b"\x00", b"\xff" * 33]
        + [bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
           for _ in range(3000)]
    )
    keys += keys[:100]  # duplicates
    for n, fpp in [(len(keys), 0.01), (len(keys), 0.001), (3, 0.25)]:
        scalar = BloomFilter.sized(n, fpp)
        for k in keys:
            scalar.add(k)
        vec = BloomFilter.sized(n, fpp)
        vec.add_batch(keys)
        assert vec.to_bytes() == scalar.to_bytes()


def test_fold_digests_wide_lanes_identical(monkeypatch):
    """The uint64 lane branch of the vectorized fold (files past ~223M
    keys, m ≥ NARROW_LANES_MAX_M) must match both the uint32 branch and
    the scalar loop — covered by lowering the threshold so the same
    small filter runs through wide lanes."""
    import elephantdb_spark.bloom as B

    keys = [f"key-{i}".encode() for i in range(2000)] + [b"", b"\xff" * 40]
    scalar = BloomFilter.sized(len(keys), 0.01)
    for k in keys:
        scalar.add(k)
    narrow = BloomFilter.sized(len(keys), 0.01)
    narrow.add_batch(keys)
    monkeypatch.setattr(B, "NARROW_LANES_MAX_M", 1)  # force uint64 lanes
    wide = BloomFilter.sized(len(keys), 0.01)
    wide.add_batch(keys)
    assert wide.to_bytes() == narrow.to_bytes() == scalar.to_bytes()


def test_add_arrow_identical_incl_nulls_slices_large_binary():
    """The zero-copy Arrow path must match the scalar loop too — with
    nulls (skipped, like the old builder), SLICED arrays (non-zero
    ``col.offset`` shifts the offsets-buffer read window), large_binary
    offsets, and the non-binary fallback."""
    import pyarrow as pa

    keys = [f"key-{i}".encode() for i in range(500)]
    with_nulls = keys[:250] + [None] + keys[250:] + [None, b""]
    for arr in [
        pa.array(with_nulls, type=pa.binary()),
        pa.array(with_nulls, type=pa.binary()).slice(100, 300),
        pa.array(with_nulls, type=pa.large_binary()),
        pa.array([k.ljust(8, b"_") for k in keys],
                 type=pa.binary(8)),  # fixed-size → pylist fallback
    ]:
        pykeys = [v for v in arr.to_pylist() if v is not None]
        scalar = BloomFilter.sized(len(pykeys), 0.01)
        for k in pykeys:
            scalar.add(k)
        vec = BloomFilter.sized(len(pykeys), 0.01)
        vec.add_arrow(arr)
        assert vec.to_bytes() == scalar.to_bytes(), arr.type


def test_empty_build():
    bf = BloomFilter.build([], fpp=0.01)
    assert bf.n == 0
    assert not bf.might_contain(b"anything")  # all-zero bits: definitive no
    assert not bf.might_contain(b"")


# ---------------------------------------------------------- integration

SPEC_BLOOM = DomainSpec(num_shards=4, persistence_opts={"bloom_fpp": 0.01})


def _kv(spark, n=400, tag=""):
    return spark.range(n).select(
        F.concat(F.lit(f"k{tag}"), F.col("id")).cast("binary").alias("key"),
        F.concat(F.lit(f"v{tag}"), F.col("id")).cast("binary").alias("value"),
    )


def _sidecars(root, version):
    return sorted(
        glob.glob(os.path.join(root, str(version), "shard=*", ".*.bloom"))
    )


def _datafiles(root, version):
    return sorted(
        glob.glob(os.path.join(root, str(version), "shard=*", "*.parquet"))
    )


@pytest.fixture
def bloom_root(tmp_path, spark):
    root = str(tmp_path / "domains" / "bl")
    build_domain(spark, _kv(spark), root, SPEC_BLOOM, version=1)
    return root


def test_build_writes_one_sidecar_per_data_file(spark, bloom_root):
    data = _datafiles(bloom_root, 1)
    sides = _sidecars(bloom_root, 1)
    assert len(data) >= 1
    assert sides == sorted(sidecar_path(p) for p in data)
    # hidden from spark scans and the serving file list
    eng = Engine(spark, os.path.dirname(bloom_root))
    dom = eng.domain("bl")
    assert dom.count() == 400
    assert dom.layout_report()["one_file_per_shard"] is True


def test_probe_hits_and_misses_match_bloomless_domain(spark, tmp_path, bloom_root):
    plain = str(tmp_path / "domains" / "plain")
    build_domain(spark, _kv(spark), plain, DomainSpec(num_shards=4), version=1)
    eng = Engine(spark, str(tmp_path / "domains"))
    keys = [f"k{i}".encode() for i in range(0, 400, 7)] + [
        b"missing-1", b"", b"\xff" * 8,
    ]
    got_b = eng.domain("bl").local_multi_get(keys)
    got_p = eng.domain("plain").local_multi_get(keys)
    assert got_b == got_p
    assert got_b[b"k7"] == b"v7" and got_b[b"missing-1"] is None


def test_miss_short_circuits_without_io(spark, bloom_root, monkeypatch):
    import pyarrow.parquet as pq

    eng = Engine(spark, os.path.dirname(bloom_root))
    dom = eng.domain("bl")
    dom.local_multi_get([b"warm"])  # open handles + load sidecars first
    calls = []
    # count BOTH probe read paths: iter_batches (streaming) and
    # read_row_groups (the decoded-group cache's cold fill) — a bloom
    # "no" must trigger neither
    orig_ib = pq.ParquetFile.iter_batches
    orig_rg = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(
        pq.ParquetFile, "iter_batches",
        lambda self, *a, **kw: calls.append(1) or orig_ib(self, *a, **kw),
    )
    monkeypatch.setattr(
        pq.ParquetFile, "read_row_groups",
        lambda self, *a, **kw: calls.append(1) or orig_rg(self, *a, **kw),
    )
    # 50 misses: with ~1% fpp per file, expect (almost always) zero reads
    out = dom.local_multi_get([f"no-such-key-{i}".encode() for i in range(50)])
    assert all(v is None for v in out.values())
    assert len(calls) <= 2  # fpp allowance; bloomless would decode per key
    calls.clear()
    assert dom.local_multi_get([b"k3"]) == {b"k3": b"v3"}  # hits still read
    assert len(calls) >= 1


def test_update_carries_and_rebuilds_sidecars(spark, tmp_path, bloom_root):
    eng = Engine(spark, str(tmp_path / "domains"))
    dom = eng.domain("bl")
    batch = spark.createDataFrame(
        [(b"k3", b"NEW"), (b"brand-new", b"BN")], "key binary, value binary"
    )
    update_domain(spark, batch, bloom_root, version=2)
    # every v2 data file has a sidecar (copied forward or rebuilt)
    data = _datafiles(bloom_root, 2)
    assert sorted(sidecar_path(p) for p in data) == _sidecars(bloom_root, 2)
    got = dom.local_multi_get(
        [b"k3", b"brand-new", b"k5", b"nope"], version=2
    )
    assert got == {
        b"k3": b"NEW", b"brand-new": b"BN", b"k5": b"v5", b"nope": None,
    }
    # old version untouched
    assert dom.local_multi_get([b"k3"], version=1) == {b"k3": b"v3"}


def test_compaction_rebuilds_sidecars(spark, tmp_path):
    root = str(tmp_path / "domains" / "frag")
    spec = DomainSpec(
        num_shards=2,
        persistence_opts={"bloom_fpp": 0.01, "maxRecordsPerFile": 40},
    )
    build_domain(spark, _kv(spark, 200), root, spec, version=1)
    for v in (2, 3):
        update_domain(
            spark,
            spark.createDataFrame(
                [(f"extra-{v}".encode(), b"x")], "key binary, value binary"
            ),
            root, version=v,
        )
    eng = Engine(spark, str(tmp_path / "domains"))
    dom = eng.domain("frag")
    before = dom.local_multi_get(
        [b"k0", b"k199", b"extra-2", b"extra-3", b"none"]
    )
    v = compact_domain(spark, root, version=9)
    assert v == 9
    data = _datafiles(root, 9)
    assert sorted(sidecar_path(p) for p in data) == _sidecars(root, 9)
    assert dom.layout_report()["one_file_per_shard"] is True
    assert dom.local_multi_get(
        [b"k0", b"k199", b"extra-2", b"extra-3", b"none"]
    ) == before


def test_corrupt_sidecar_degrades_gracefully(spark, bloom_root, tmp_path):
    side = _sidecars(bloom_root, 1)[0]
    with open(side, "wb") as fh:
        fh.write(b"garbage not a bloom")
    data_path = os.path.join(
        os.path.dirname(side),
        os.path.basename(side)[1:-len(".bloom")],  # strip dot + suffix
    )
    assert sidecar_path(data_path) == side
    assert load_sidecar(data_path) is None  # invalid → forfeit, not fail
    eng = Engine(spark, os.path.dirname(bloom_root))
    dom = eng.domain("bl")
    keys = [f"k{i}".encode() for i in range(20)] + [b"none"]
    expect = {f"k{i}".encode(): f"v{i}".encode() for i in range(20)}
    expect[b"none"] = None
    assert dom.local_multi_get(keys) == expect


def test_zero_width_sidecar_header_degrades_gracefully(spark, tmp_path):
    """A sidecar whose header passes the length check but says m = 0 must
    be refused at load, not fail every multi-get on its shard. The cache
    is off so the file-level Bloom test runs on every probe."""
    root = str(tmp_path / "domains" / "bz")
    build_domain(
        spark, _kv(spark), root,
        DomainSpec(num_shards=4, persistence_opts={
            "bloom_fpp": 0.01, "serving_cache_bytes": 0,
        }),
        version=1,
    )
    side = _sidecars(root, 1)[0]
    with open(side, "wb") as fh:
        fh.write(struct.pack("<8sQIQ", b"EDBBLOOM", 0, 7, 400))
    dom = Engine(spark, os.path.dirname(root)).domain("bz")
    keys = [f"k{i}".encode() for i in range(40)] + [b"none", b"k7x"]
    expect = {f"k{i}".encode(): f"v{i}".encode() for i in range(40)}
    expect[b"none"] = expect[b"k7x"] = None
    assert dom.local_multi_get(keys) == expect


def test_sidecar_build_idempotent(spark, bloom_root):
    vpath = os.path.join(bloom_root, "1")
    assert build_bloom_sidecars(spark, vpath, 0.01) == 0  # all present
    os.remove(_sidecars(bloom_root, 1)[0])
    assert build_bloom_sidecars(spark, vpath, 0.01) == 1  # fills the gap


def test_add_batch_accepts_one_shot_iterators():
    """Code-review r8: add_batch must materialize one-shot iterators
    before hashing — the hash-retry fallback re-iterates, and resuming a
    half-consumed generator would silently drop keys (false negatives,
    which the serving path treats as definitive misses)."""
    keys = [f"key-{i}".encode() for i in range(500)]
    from_list = BloomFilter.sized(len(keys), 0.01)
    from_list.add_batch(keys)
    from_gen = BloomFilter.sized(len(keys), 0.01)
    from_gen.add_batch(k for k in keys)
    assert from_gen.to_bytes() == from_list.to_bytes()
    # bytes-like that hashlib itself rejects still round-trips via the
    # fallback, from a generator, without dropping earlier keys
    mixed = [b"first", bytearray(b"second"), memoryview(b"third")]
    a = BloomFilter.sized(3, 0.01)
    a.add_batch(iter(mixed))
    b = BloomFilter.sized(3, 0.01)
    for k in mixed:
        b.add(bytes(k))
    assert a.to_bytes() == b.to_bytes()


def test_contains_batch_identical_to_scalar_might_contain(monkeypatch):
    """The vectorized prober must answer EXACTLY like the per-key
    might_contain loop — members always True (no false negatives),
    non-members bit-for-bit the same fpp decisions — on adversarial keys
    (empty, dup, every byte value), in both lane widths, and hash_keys
    blobs must be reusable across filters."""
    import random

    import elephantdb_spark.bloom as B

    rng = random.Random(82)
    members = (
        [b"", b"\x00", b"\xff" * 33]
        + [bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
           for _ in range(1500)]
    )
    probes = members[:200] + [
        bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        for _ in range(1500)
    ] + [b"", b"absent"]
    for fpp in (0.01, 0.25):
        bf = BloomFilter.build(members, fpp)
        scalar = [bf.might_contain(k) for k in probes]
        assert bf.contains_batch(probes) == scalar
        # one hash blob, tested against a second (differently-sized)
        # filter — the per-shard reuse shape in the serving probe
        bf2 = BloomFilter.build(members[:700], fpp)
        digs = BloomFilter.hash_keys(probes)
        assert bf2.contains_digests(digs) == [
            bf2.might_contain(k) for k in probes
        ]
        # wide lanes answer identically
        monkeypatch.setattr(B, "NARROW_LANES_MAX_M", 1)
        assert bf.contains_batch(probes) == scalar
        monkeypatch.undo()
    assert bf.contains_batch([]) == []
    assert bf.contains_batch(iter(members[:5])) == [True] * 5
    # the k extremes the one-pass broadcast must handle: a one-key
    # filter (m = 64 clamp, k = 44), an fpp = 1e-6 filter (k = 20), and
    # a blob that repeats one digest
    one = BloomFilter.build([b"solo"], 0.01)
    tight = BloomFilter.build(members, 1e-6)
    assert (one.m, one.k, tight.k) == (64, 44, 20)
    for f in (one, tight):
        assert f.contains_batch(probes) == [f.might_contain(k) for k in probes]
    assert one.contains_batch([b"solo"] * 3 + [b"x"] * 2) == [True] * 3 + [
        one.might_contain(b"x")
    ] * 2
    assert tight.contains_digests(BloomFilter.hash_keys([b"absent"] * 4)) == [
        tight.might_contain(b"absent")
    ] * 4


def test_bloom_gates_decodes_when_cache_cannot_absorb(spark, tmp_path, monkeypatch):
    """The at-scale regime: when the decoded-group cache cannot absorb the
    group (disabled here; at 100 TB, at-budget), a bloom "no" must answer
    in-range misses with ZERO reads — and hits must still read. Also pins
    the complement: with cache room, a miss batch may decode ONCE (the
    productive fill) and then answers from memory."""
    import pyarrow.parquet as pq

    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "blz")
    build_domain(
        spark, _kv(spark), root,
        DomainSpec(num_shards=4, persistence_opts={
            "bloom_fpp": 0.01, "serving_cache_bytes": 0,
        }),
        version=1,
    )
    dom = Domain(spark, root)
    dom.local_multi_get([b"warm"])
    calls = []
    orig_ib = pq.ParquetFile.iter_batches
    orig_rg = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(
        pq.ParquetFile, "iter_batches",
        lambda self, *a, **kw: calls.append(1) or orig_ib(self, *a, **kw),
    )
    monkeypatch.setattr(
        pq.ParquetFile, "read_row_groups",
        lambda self, *a, **kw: calls.append(1) or orig_rg(self, *a, **kw),
    )
    misses = [f"k{i}x".encode() for i in range(60)]  # in-range, absent
    out = dom.local_multi_get(misses)
    assert all(v is None for v in out.values())
    assert len(calls) <= 2  # fpp allowance; every real decode is gated
    calls.clear()
    assert dom.local_multi_get([b"k7"])[b"k7"] == b"v7"  # hits still read
    assert len(calls) >= 1

    # cache-room complement: same domain shape, cache ON — repeat miss
    # batches pay at most one productive fill per (file, group), then zero
    root2 = str(tmp_path / "blc")
    build_domain(
        spark, _kv(spark, tag="c"), root2,
        DomainSpec(num_shards=4, persistence_opts={"bloom_fpp": 0.01}),
        version=1,
    )
    dom2 = Domain(spark, root2)
    missc = [f"kc{i}x".encode() for i in range(60)]
    calls.clear()
    dom2.local_multi_get(missc)
    first = len(calls)
    assert first >= 1  # the fill happened (bloom did NOT starve the cache)
    calls.clear()
    out2 = dom2.local_multi_get(missc)
    assert all(v is None for v in out2.values())
    assert len(calls) == 0  # steady state: all from the decoded cache


def test_hash_keys_one_shot_iterator_with_fallback():
    """hash_keys must materialize one-shot iterators BEFORE hashing: a
    non-bytes item mid-stream triggers the bytes() fallback, and resuming
    a half-consumed iterator would silently truncate the blob so answers
    map to the wrong keys (the add_batch hazard, now guarded here too)."""
    # [0x63] is the trap item: blake2b REJECTS a list (TypeError, after
    # the try-branch already consumed two items) but bytes([0x63]) == b"c"
    # — so only a pre-materialized fallback re-hashes all four keys; a
    # resumed iterator would yield a truncated, misaligned blob
    keys = [b"a", b"b", [0x63], b"d"]
    blob = BloomFilter.hash_keys(iter(keys))
    assert len(blob) == 16 * 4
    assert blob == BloomFilter.hash_keys([b"a", b"b", b"c", b"d"])
    bf = BloomFilter.build([b"a", b"d"], 0.01)
    got = bf.contains_digests(blob)
    assert got[0] is True and got[3] is True  # members never false


def test_contains_digests_rejects_malformed_blob():
    bf = BloomFilter.build([b"a", b"b"], fpp=0.05)
    good = BloomFilter.hash_keys([b"a", b"x"])
    assert bf.contains_digests(good) == [True, bf.might_contain(b"x")]
    with pytest.raises(ValueError, match="multiple of 16"):
        bf.contains_digests(good[:-1])  # truncated: would drop a key
    with pytest.raises(ValueError, match="multiple of 16"):
        bf.contains_digests(good + b"\x00")


def test_file_level_prefilter_multi_file_shard(spark, tmp_path, monkeypatch):
    """r9 (ADVICE r8): in the non-absorbing regime a multi-file shard runs
    ONE file-level contains_digests per file — definitive misses never
    enter the bisect walk — while hits that live in DIFFERENT files of the
    same shard all still surface (the narrowing must be per-file, not
    shard-sticky)."""
    from elephantdb_spark.bloom import BloomFilter as BF
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "pref")
    build_domain(
        spark, _kv(spark, n=300), root,
        DomainSpec(num_shards=2, persistence_opts={
            "bloom_fpp": 0.001, "serving_cache_bytes": 0,
        }),
        version=1,
    )
    # fragment: two incremental updates -> up to 3 files per shard, with
    # different key populations per file
    update_domain(spark, _kv(spark, n=200, tag="b"), root, version=2)
    update_domain(spark, _kv(spark, n=100, tag="c"), root, version=3)

    dom = Domain(spark, root)
    dom.local_multi_get([b"warm"])

    calls = []
    orig = BF.contains_digests
    monkeypatch.setattr(
        BF, "contains_digests",
        lambda self, d: calls.append(len(d) // 16) or orig(self, d),
    )
    # mixed batch: hits from each generation + in-range misses
    hits = [b"k5", b"kb5", b"kc5", b"k250", b"kb150"]
    misses = [f"k{i}zz".encode() for i in range(40)]
    out = dom.local_multi_get(hits + misses)
    assert out[b"k5"] == b"v5"
    assert out[b"kb5"] == b"vb5"
    assert out[b"kc5"] == b"vc5"
    assert out[b"k250"] == b"v250"
    assert out[b"kb150"] == b"vb150"
    assert all(out[m] is None for m in misses)
    # prefiltered files must not re-consult bloom per group: the number
    # of consults is bounded by the number of files probed (2 shards x
    # <=3 files), never files x groups x subsets
    assert 1 <= len(calls) <= 6


def test_fanout_failure_cancels_pending_and_releases_gate(spark, tmp_path, monkeypatch):
    """r9 (ADVICE r8): a shard-probe failure during fanout must propagate,
    cancel queued siblings on the shared pool, decrement the admission
    counter, and leave the handle probing fine afterwards."""
    from elephantdb_spark.engine import Domain

    root = str(tmp_path / "ffail")
    build_domain(
        spark, _kv(spark, n=400), root,
        DomainSpec(num_shards=8), version=1,
    )
    dom = Domain(spark, root)
    keys = [f"k{i}".encode() for i in range(0, 400, 7)]
    ok = dom.local_multi_get(keys)
    assert ok[b"k7"] == b"v7"

    orig_open = Domain._open_shard_file
    def boom(self, fpath):
        if "shard=3" in fpath:
            raise OSError("transient")
        return orig_open(self, fpath)
    monkeypatch.setattr(Domain, "_open_shard_file", boom)
    dom2 = Domain(spark, root)
    with pytest.raises(OSError, match="transient"):
        dom2.local_multi_get(keys)
    assert dom2._probe_callers == 0  # gate released on the error path
    monkeypatch.setattr(Domain, "_open_shard_file", orig_open)
    again = dom2.local_multi_get(keys)
    assert again == ok  # pool + handle still serviceable


def test_prefilter_equivalence_randomized(spark, tmp_path):
    """Property: with sidecars + cache off (the prefilter regime), every
    probe answers byte-identically to the same layout WITHOUT sidecars
    (the prefilter may only remove work, never answers). Seeded random
    batches mix hits, near-miss variants, and far misses across a
    fragmented multi-file layout."""
    import random

    from elephantdb_spark.engine import Domain

    n = 500
    kv = spark.range(n).select(
        F.concat(F.lit("key:"), F.col("id")).cast("binary").alias("key"),
        F.concat(F.lit("val:"), F.col("id") * 7).cast("binary").alias("value"),
    )
    roots = {}
    for tag, opts in (
        ("with", {"bloom_fpp": 0.05, "serving_cache_bytes": 0,
                  "maxRecordsPerFile": 40}),
        ("without", {"serving_cache_bytes": 0, "maxRecordsPerFile": 40}),
    ):
        r = str(tmp_path / tag)
        build_domain(spark, kv, r,
                     DomainSpec(num_shards=3, persistence_opts=opts),
                     version=1)
        roots[tag] = r
    dwith = Domain(spark, roots["with"])
    dwout = Domain(spark, roots["without"])
    assert _sidecars(roots["with"], 1) and not _sidecars(roots["without"], 1)

    rng = random.Random(20260815)
    for trial in range(25):
        batch = []
        for _ in range(rng.randint(1, 120)):
            i = rng.randrange(n * 2)
            pick = rng.random()
            if pick < 0.5:
                k = f"key:{i % n}".encode()          # hit
            elif pick < 0.8:
                k = f"key:{i}".encode()              # in-range-ish miss
            else:
                k = f"key:{i % n}x{trial}".encode()  # near-variant miss
            batch.append(k)
        a = dwith.local_multi_get(batch)
        b = dwout.local_multi_get(batch)
        assert a == b, f"trial {trial}: prefilter changed answers"
        for k in batch:  # ground truth on hits
            if k.startswith(b"key:") and k[4:].isdigit() and int(k[4:]) < n:
                assert a[k] == b"val:%d" % (int(k[4:]) * 7)
