"""Per-shard-file Bloom sidecars: O(1) negative lookups for the serving path.

The reference's serving store answers a MISS with an O(log n) B-tree
descent over cached pages (JavaBerkDB.java:70-82) — misses are cheap.
Our parquet probe prunes row groups via the (min,max) bound index, but a
miss whose key falls INSIDE some group's range still decodes that group.
For hash-shaped keys (digests, band keys — the near-dup history shape)
group ranges tile the key space densely, so ~every miss pays a decode.
A Bloom filter over each data file's keys short-circuits those misses in
memory: a "no" is definitive (zero I/O), a "yes" (true hit or fpp false
positive) falls through to the normal bound-index probe — correctness is
therefore unaffected by construction, the filter only removes work.

Sidecar layout: for data file ``<name>.parquet`` the filter lives at
``.<name>.parquet.bloom`` in the same shard directory — leading dot so
Spark scans, `layout_report`, and `_shard_file_list` all ignore it.
Files are immutable once published, so a sidecar is built exactly once;
`DomainStore.synchronize_versions`'s ``copytree`` carries sidecars
forward with their shard dirs on incremental updates, and rewritten
shards get fresh sidecars from :func:`build_bloom_sidecars` (a
distributed Spark job — at 100 TB the one key-column pass parallelizes
per file and repays itself on any miss-heavy serving workload).

Format (little-endian): ``b"EDBBLOOM"  m:u64  k:u32  n:u64  bits``.
Hashing is double hashing over one blake2b-128 of the key:
``bit_i = (h1 + i*h2) mod m`` — deterministic across processes, no
seed material beyond the key bytes.
"""

from __future__ import annotations

import math
import os
import struct
from hashlib import blake2b

_MAGIC = b"EDBBLOOM"
_HEADER = struct.Struct("<8sQIQ")

#: Default false-positive target. 1% costs ~9.6 bits/key — ~1.2 MB per
#: million keys per file, read once at open and held by the serving cache.
DEFAULT_FPP = 0.01

SIDECAR_SUFFIX = ".bloom"

#: The builder's _fold_digests uses uint32 position lanes when ``m`` is
#: below this (the conditional-subtract sum stays < 2m < 2^32) and uint64
#: lanes above (files past ~223M keys at 1% fpp). The prober,
#: contains_digests, always uses uint64 and does not read it.
#: Module-level so tests can lower it and prove both lanes produce
#: identical filters.
NARROW_LANES_MAX_M = 1 << 31


def sidecar_path(data_path: str) -> str:
    """``.../<name>.parquet`` → ``.../.<name>.parquet.bloom`` (hidden)."""
    d, f = os.path.split(data_path)
    return os.path.join(d, "." + f + SIDECAR_SUFFIX)


def _hash_pair(key: bytes) -> tuple[int, int]:
    d = blake2b(key, digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,  # odd → full-period stride
    )


class BloomFilter:
    """Immutable-after-build Bloom filter over byte keys."""

    __slots__ = ("m", "k", "n", "bits")

    def __init__(self, m: int, k: int, n: int, bits: bytearray):
        self.m = m
        self.k = k
        self.n = n
        self.bits = bits

    @classmethod
    def sized(cls, n: int, fpp: float = DEFAULT_FPP) -> "BloomFilter":
        """An empty filter sized for ``n`` keys at ``fpp`` — feed it with
        :meth:`add`. Lets the sidecar builder stream keys batch-by-batch
        (the key count is footer-known) instead of materializing a
        shard file's whole key column in task memory."""
        if not 0.0 < fpp < 1.0:
            raise ValueError(f"fpp must be in (0, 1), got {fpp}")
        # standard sizing: m = -n ln p / ln^2 2, k = (m/n) ln 2
        m = max(64, math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2))) if n else 1
        return cls(m, k, 0, bytearray((m + 7) // 8))

    def add(self, key: bytes) -> None:
        h1, h2 = _hash_pair(bytes(key))
        m, bits = self.m, self.bits
        for i in range(self.k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
        self.n += 1

    def add_batch(self, keys) -> None:
        """Vectorized bulk :meth:`add` — byte-identical filters, ~10×
        cheaper per key (VERDICT r7 item 3: the per-key loop is one
        blake2b + k Python big-int mod-and-set steps, ~µs/key — hours of
        aggregate CPU at a 10^10-key domain). Here the only per-key
        Python work is the blake2b call itself (C-side); the double-hash
        positions and bit-sets run as ndarray ops.

        Exactness (why the bytes cannot differ from ``add``): the pure
        path computes ``(h1 + i*h2) % m`` with arbitrary-precision ints;
        modular arithmetic gives ``(h1 + i*h2) % m ==
        ((h1 % m) + i*(h2 % m)) % m``, and the reduced operands satisfy
        ``r1 + i*r2 < (k+1)*m`` — with k ≈ -log2(fpp) and m ≤ ~10 bits/
        key this never approaches 2^64, so uint64 ndarray arithmetic is
        exact where raw ``h1 + i*h2`` would wrap."""
        if not isinstance(keys, (list, tuple)):
            # materialize one-shot iterators BEFORE hashing: the fallback
            # below re-iterates, and resuming a half-consumed iterator
            # would silently drop keys → false negatives, which the
            # serving path treats as definitive misses
            keys = list(keys)
        try:  # keys are bytes by the build contract — hash them directly
            digests = b"".join(
                [blake2b(k, digest_size=16).digest() for k in keys]
            )
        except (TypeError, ValueError):  # bytes-like that hashlib rejects
            digests = b"".join(
                [blake2b(bytes(k), digest_size=16).digest() for k in keys]
            )
        self._fold_digests(digests)

    def add_arrow(self, col) -> None:
        """:meth:`add_batch` for a pyarrow binary array WITHOUT
        materializing per-key Python ``bytes`` (``to_pylist`` was ~40% of
        sidecar-builder cost on a 1M-key file): blake2b reads the Arrow
        data buffer through zero-copy memoryview slices. Nulls are
        skipped (same as the builder's drop_null), non-(large_)binary
        arrays fall back to the pylist path."""
        import numpy as np
        import pyarrow as pa

        if col.null_count:
            col = col.drop_null()
        if len(col) == 0:
            return
        t = col.type
        if t == pa.binary():
            odt, osz = np.int32, 4
        elif t == pa.large_binary():
            odt, osz = np.int64, 8
        else:
            self.add_batch(col.to_pylist())
            return
        bufs = col.buffers()  # [validity, offsets, data]
        off = np.frombuffer(
            bufs[1], dtype=odt, count=len(col) + 1, offset=col.offset * osz
        ).tolist()
        mv = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
        digests = b"".join(
            [blake2b(mv[a:b], digest_size=16).digest()
             for a, b in zip(off, off[1:])]
        )
        self._fold_digests(digests)

    def _fold_digests(self, digests: bytes) -> None:
        """Shared vectorized tail of the batch adders: double-hash the
        16-byte digests into bit positions and OR them in."""
        import numpy as np

        cnt = len(digests) // 16
        if not cnt:
            return
        h = np.frombuffer(digests, dtype="<u8").reshape(cnt, 2)
        m = np.uint64(self.m)
        pos = h[:, 0] % m  # fresh array — mutated by the recurrence below
        r2 = (h[:, 1] | np.uint64(1)) % m  # odd-ify BEFORE mod, like add()
        if self.m < NARROW_LANES_MAX_M:  # sum stays < 2m: narrow lanes ok
            pos = pos.astype(np.uint32)
            r2 = r2.astype(np.uint32)
            m = np.uint32(self.m)
            three, seven = np.uint32(3), np.uint32(7)
        else:
            three, seven = np.uint64(3), np.uint64(7)
        bits = np.frombuffer(self.bits, dtype=np.uint8)  # shared memory
        for i in range(self.k):
            np.bitwise_or.at(
                bits,
                pos >> three,
                np.left_shift(np.uint8(1), (pos & seven).astype(np.uint8)),
            )
            if i + 1 < self.k:
                # (pos + r2) % m by conditional subtract — integer modulo
                # has no SIMD path and dominated the loop; both operands
                # are < m so the sum is < 2m, one subtract restores range
                pos += r2
                pos[pos >= m] -= m
        self.n += cnt

    @classmethod
    def build(cls, keys, fpp: float = DEFAULT_FPP) -> "BloomFilter":
        keys = list(keys)
        bf = cls.sized(len(keys), fpp)
        bf.add_batch(keys)
        return bf

    def might_contain(self, key: bytes) -> bool:
        h1, h2 = _hash_pair(bytes(key))
        m, bits = self.m, self.bits
        for i in range(self.k):
            pos = (h1 + i * h2) % m
            if not bits[pos >> 3] & (1 << (pos & 7)):
                return False
        return True

    @staticmethod
    def hash_keys(keys) -> bytes:
        """Digest blob for :meth:`contains_digests` — hash once, test
        against MANY filters (the serving probe checks the same key set
        against every file's sidecar in a shard; blake2b is the only
        per-key cost and it must not repeat per file)."""
        if not isinstance(keys, (list, tuple)):
            # materialize one-shot iterators BEFORE hashing: the fallback
            # below re-iterates, and resuming a half-consumed iterator
            # would silently produce a truncated blob whose answers map
            # to the WRONG keys (same hazard add_batch guards against)
            keys = list(keys)
        try:
            return b"".join(
                [blake2b(k, digest_size=16).digest() for k in keys]
            )
        except (TypeError, ValueError):
            return b"".join(
                [blake2b(bytes(k), digest_size=16).digest() for k in keys]
            )

    def contains_digests(self, digests: bytes) -> list[bool]:
        """Vectorized bulk :meth:`might_contain` over a
        :meth:`hash_keys` blob: one broadcast computes all k positions
        of every key, ``(r1 + i*r2) % m`` for ``i < k`` with
        ``r1 = h1 % m`` and ``r2 = (h2 | 1) % m``, then one gather tests
        them. That is ~10 ndarray calls whatever k and the key count
        are, so a one-key serving test pays numpy's fixed per-call cost
        ~10 times, not ~10 times per position.

        Exactness: ``add_batch``'s modular identity gives the scalar
        path's positions, and ``r1 + i*r2 < k*m``, so the uint64
        arithmetic cannot wrap while ``k*m < 2^64`` — which
        :meth:`from_bytes` enforces for every loaded sidecar. Membership
        answers are therefore bit-for-bit those of :meth:`might_contain`.
        The builder's ``_fold_digests`` keeps its own recurrence: the
        (n, k) matrix measured slower on 65,536-key build batches."""
        import numpy as np

        if len(digests) % 16:
            # a truncated/overrun blob would silently answer for FEWER
            # keys than the caller zips against — a missed hit, not an
            # error — so malformed input must fail loudly here
            raise ValueError(
                f"digest blob length {len(digests)} is not a multiple of 16"
            )
        cnt = len(digests) // 16
        if not cnt:
            return []
        h = np.frombuffer(digests, dtype="<u8").reshape(cnt, 2)
        m = np.uint64(self.m)
        r1 = h[:, :1] % m
        r2 = (h[:, 1:] | np.uint64(1)) % m
        pos = (r1 + r2 * np.arange(self.k, dtype=np.uint64)) % m  # (cnt, k)
        bits = np.frombuffer(self.bits, dtype=np.uint8)
        shift = (pos & np.uint64(7)).astype(np.uint8)
        hit = (bits[pos >> np.uint64(3)] >> shift) & np.uint8(1)
        return hit.all(axis=1).tolist()

    def contains_batch(self, keys) -> list[bool]:
        """Bulk membership test; element i answers for ``keys[i]``."""
        if not isinstance(keys, (list, tuple)):
            keys = list(keys)
        return self.contains_digests(self.hash_keys(keys))

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.m, self.k, self.n) + bytes(self.bits)

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        if len(raw) < _HEADER.size:
            raise ValueError("bloom sidecar truncated")
        magic, m, k, n = _HEADER.unpack_from(raw)
        if magic != _MAGIC:
            raise ValueError("bloom sidecar bad magic")
        # sized() always gives m >= 64 and k < m; a header outside that
        # would fail every probe (m == 0 divides by zero) or make
        # contains_digests' (keys, k) position matrix unbounded or inexact
        if m == 0 or k > m or k * m >= 1 << 64:
            raise ValueError(f"bloom sidecar bad header m={m} k={k}")
        bits = bytearray(raw[_HEADER.size:])
        if len(bits) != (m + 7) // 8:
            raise ValueError("bloom sidecar size mismatch")
        return cls(m, k, n, bits)


def load_sidecar(data_path: str) -> BloomFilter | None:
    """Load the sidecar for a data file; ``None`` when absent or invalid
    (the filter is an optimization — a bad sidecar must never fail a
    probe, only forfeit the short-circuit)."""
    p = sidecar_path(data_path)
    try:
        with open(p, "rb") as fh:
            return BloomFilter.from_bytes(fh.read())
    except (OSError, ValueError):
        return None


def _write_sidecar_for(data_path: str, fpp: float) -> None:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(data_path)
    key_idx = pf.schema_arrow.get_field_index("key")
    key_name = pf.schema_arrow.field(key_idx).name
    # size from the footer row count, then STREAM batches — task memory
    # is one Arrow batch + the bit array, never the whole key column
    # (keys are non-null by the build contract; a null would only
    # oversize the filter by its row, never corrupt it)
    bf = BloomFilter.sized(pf.metadata.num_rows, fpp)
    for batch in pf.iter_batches(batch_size=65536, columns=[key_name]):
        bf.add_arrow(batch.column(0))
    out = sidecar_path(data_path)
    tmp = out + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(bf.to_bytes())
    os.replace(tmp, out)  # atomic: readers see whole sidecars or none


def build_bloom_sidecars(
    spark, version_path: str, fpp: float = DEFAULT_FPP
) -> int:
    """Build missing sidecars for every data file under ``version_path``
    (``shard=*/**.parquet``) as ONE distributed Spark job — one task per
    file, each reading only its file's key column. Idempotent: files
    that already have a sidecar are skipped, so a crashed run resumes by
    rerunning. Returns the number of sidecars built."""
    todo: list[str] = []
    for d in sorted(os.listdir(version_path)):
        sdir = os.path.join(version_path, d)
        if not (d.startswith("shard=") and os.path.isdir(sdir)):
            continue
        for f in sorted(os.listdir(sdir)):
            fp = os.path.join(sdir, f)
            if f.endswith(".parquet") and not f.startswith(".") \
                    and not os.path.exists(sidecar_path(fp)):
                todo.append(fp)
    if not todo:
        return 0
    sc = spark.sparkContext
    sc.parallelize(todo, len(todo)).foreach(
        lambda p: _write_sidecar_for(p, fpp)
    )
    return len(todo)
