"""Seeded inputs for the benchmark: a lineitem-shaped table, the two
serving domains built from it, the request streams and the batch inputs.

Everything here is a pure function of the seed. The expected answers are
computed from the generated columns with pyarrow and plain Python, never
through the package under test.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: TPC-H sf0.1 lineitem shape: 600,000 rows whose (orderkey, linenumber)
#: pairs are drawn with replacement, so ~456,900 keys stay after the
#: unique-key pass. The table is the same in every run (DATA_SEED), like
#: a fixed sf0.1 input file; the run seed drives the request streams
#: and the update batch drawn from it.
DATA_SEED = 0
LINEITEM_ROWS = 600_000
ORDERKEYS = 150_000
MAX_LINENUMBER = 7
#: Line number no generated row has: "<orderkey>-8" is a miss that still
#: routes like a real key (same shard function, same key length).
MISS_LINENUMBER = MAX_LINENUMBER + 1
#: Orderkeys at or above this are never generated, so update batches
#: insert genuinely new keys from here.
NEW_ORDERKEY_BASE = ORDERKEYS

ZIPF_S = 1.1
MULTIGET_KEYS = 100
MULTIGET_SHARE = 0.2

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_WORDS = np.array(
    "carefully final deposits ironic requests quickly regular accounts "
    "furiously express packages pending theodolites blithely even foxes "
    "slyly silent instructions bold pinto beans".split()
)


def lineitem(seed: int = DATA_SEED) -> pa.Table:
    """Unique-key lineitem rows (first occurrence of each key kept)."""
    rng = np.random.default_rng([seed, 1])
    n = LINEITEM_ROWS
    orderkey = rng.integers(0, ORDERKEYS, n)
    linenumber = rng.integers(1, MAX_LINENUMBER + 1, n)
    _, first = np.unique(orderkey * 16 + linenumber, return_index=True)
    keep = np.sort(first)
    m = len(keep)
    words = [pa.array(_WORDS[rng.integers(0, len(_WORDS), m)]) for _ in range(4)]
    return pa.table(
        {
            "l_orderkey": orderkey[keep],
            "l_partkey": rng.integers(1, 20_001, m),
            "l_suppkey": rng.integers(1, 1_001, m),
            "l_linenumber": linenumber[keep].astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            # cents, so the text form is exact
            "l_extendedprice_cents": rng.integers(90_000, 10_500_000, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _FLAGS[rng.integers(0, 3, m)],
            "l_linestatus": _STATUS[rng.integers(0, 2, m)],
            "l_shipdate": rng.integers(8_035, 10_591, m),  # days since epoch
            "l_comment": pc.binary_join_element_wise(*words, " "),
        }
    )


def keys_of(t: pa.Table) -> list[bytes]:
    return [
        b"%d-%d" % (o, ln)
        for o, ln in zip(
            t.column("l_orderkey").to_pylist(), t.column("l_linenumber").to_pylist()
        )
    ]


def price_text(cents: int) -> bytes:
    return b"%d.%02d" % divmod(int(cents), 100)


def narrow_values(t: pa.Table) -> list[bytes]:
    """``serve_hot`` value: l_extendedprice as text."""
    return [price_text(c) for c in t.column("l_extendedprice_cents").to_pylist()]


def wide_values(t: pa.Table) -> list[bytes]:
    """``serve_spill`` value: the whole row as JSON (~256 bytes)."""
    parts = []
    for i, name in enumerate(t.column_names):
        col = t.column(name)
        text = pc.cast(col, pa.string())
        if pa.types.is_string(col.type):
            text = pc.binary_join_element_wise('"', text, '"', "")
        parts += [("{" if i == 0 else ",") + f'"{name}":', text]
    parts.append("}")
    return pc.cast(pc.binary_join_element_wise(*parts, ""), pa.binary()).to_pylist()


def kv_table(keys: list[bytes], values: list[bytes]) -> pa.Table:
    return pa.table(
        {
            "key": pa.array(keys, type=pa.binary()),
            "value": pa.array(values, type=pa.binary()),
        }
    )


def decoded_bytes(keys: list[bytes], values: list[bytes]) -> int:
    """Arrow in-memory size of the key/value columns — what the serving
    cache charges for the whole domain once every group is decoded."""
    return kv_table(keys, values).nbytes


def miss_keys(rng: np.random.Generator, n: int) -> list[bytes]:
    return [b"%d-%d" % (o, MISS_LINENUMBER) for o in rng.integers(0, ORDERKEYS, n)]


def zipf_cdf(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    c = np.cumsum(w)
    return c / c[-1]


class KeyStream:
    """Deterministic key draws for one client: ``zipf`` ranks over a
    seeded permutation of the domain keys (or uniform draws), with a
    fixed share of in-range misses mixed in."""

    def __init__(
        self,
        keys: list[bytes],
        seed: int,
        client: int,
        *,
        zipf: bool,
        miss_share: float,
    ):
        self.keys = keys
        self.miss_share = miss_share
        self.rng = np.random.default_rng([seed, 2, client])
        # one permutation per run (shared by its clients), so every
        # client agrees on which keys are hot
        self.perm = np.random.default_rng([seed, 3]).permutation(len(keys))
        self.cdf = zipf_cdf(len(keys)) if zipf else None

    def draw(self, n: int) -> list[bytes]:
        u = self.rng.random(n)
        if self.cdf is not None:
            idx = self.perm[np.minimum(np.searchsorted(self.cdf, u), len(self.keys) - 1)]
        else:
            idx = self.rng.integers(0, len(self.keys), n)
        miss = self.rng.random(n) < self.miss_share
        misses = iter(miss_keys(self.rng, int(miss.sum())))
        return [next(misses) if m else self.keys[i] for i, m in zip(idx, miss)]

    def request(self) -> list[bytes]:
        """One request's keys: a point get (one key) or a multiget."""
        if self.rng.random() < MULTIGET_SHARE:
            return self.draw(MULTIGET_KEYS)
        return self.draw(1)


def shard_of(key: bytes, num_shards: int) -> int:
    """The reference's routing: MD5 as a signed big-endian integer, mod
    the shard count. Used only to choose which shards a batch touches."""
    return int.from_bytes(hashlib.md5(key).digest(), "big", signed=True) % num_shards


def update_batch(
    keys: list[bytes],
    seed: int,
    batch: int,
    size: int,
    *,
    wide: bool,
    shards: set[int] | None = None,
    num_shards: int = 0,
) -> tuple[list[bytes], list[bytes]]:
    """One ``update_domain`` batch: half overwrites of existing keys, half
    new keys. With ``shards``, every key routes to one of those shards,
    so the update rewrites only them and copies the rest forward. Every
    value differs from any value the key had before, so a stale read is
    always detectable."""
    rng = np.random.default_rng([seed, 5, batch])
    half = size // 2

    def wanted(k: bytes) -> bool:
        return shards is None or shard_of(k, num_shards) in shards

    old: list[bytes] = []
    for i in rng.permutation(len(keys)):
        if wanted(keys[i]):
            old.append(keys[i])
            if len(old) == half:
                break
    new: list[bytes] = []
    o = NEW_ORDERKEY_BASE + batch * 10_000
    while len(new) < size - half:
        new += [k for k in (b"%d-%d" % (o, ln) for ln in range(1, 8)) if wanted(k)]
        o += 1
    batch_keys = old + new[: size - half]
    tag = b"u%d:" % batch
    if wide:
        values = [tag + b'{"k":"%s","pad":"%s"}' % (k, b"x" * 220) for k in batch_keys]
    else:
        values = [tag + price_text(c) for c in rng.integers(90_000, 10_500_000, size)]
    return batch_keys, values
