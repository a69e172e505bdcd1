"""In-memory spans and counters recorded at the package's layer
boundaries, from outside the package.

:func:`install` wraps the public callables each layer is entered
through and returns a function that restores them. Nothing here is
active in an untraced run.

Span: (span id, parent id, request id, name, start ns, end ns, thread).
A request span is opened by the benchmark around each serving call;
serving-layer work is counted only inside one, so Spark-side driver work
(update merges) running on another thread does not
leak into serving counters. Work a request hands to the package's
``edb-serve`` fanout pool inherits the request through the pool's
``submit``.
"""

from __future__ import annotations

import gzip
import itertools
import json
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

_now = time.perf_counter_ns


class Tracer:
    def __init__(self, is_present=None):
        #: key → bool, used to split Bloom passes into true and false ones
        self.is_present = is_present
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.counts: dict[str, float] = defaultdict(float)
        #: per request span id: child time recorded without spans
        self.inline_ns: dict[int, int] = defaultdict(int)

    # -- context -------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self):
        """(span id, request id) of the innermost open span, or None."""
        st = self._stack()
        return st[-1] if st else None

    def in_request(self) -> bool:
        cur = self.current()
        return cur is not None and cur[1] is not None

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += value

    def span(self, name: str, request: int | None = None):
        return _Span(self, name, request)

    def add_inline(self, ns: int) -> None:
        cur = self.current()
        if cur is not None:
            with self._lock:
                self.inline_ns[cur[0]] += ns

    def write(self, path: str) -> int:
        """Spans as gzipped JSON lines."""
        with gzip.open(path, "wt") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        dict(zip(("id", "parent", "req", "name", "start_ns", "end_ns", "thread"), s))
                    )
                    + "\n"
                )
        return len(self.spans)


class _Span:
    __slots__ = ("t", "name", "request", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str, request: int | None):
        self.t = tracer
        self.name = name
        self.request = request

    def __enter__(self):
        st = self.t._stack()
        parent = st[-1] if st else None
        self.sid = next(self.t._ids)
        self.parent = parent[0] if parent else None
        if self.request is None and parent is not None:
            self.request = parent[1]
        st.append((self.sid, self.request))
        self.start = _now()
        return self

    def __exit__(self, *exc):
        end = _now()
        self.t._stack().pop()
        self.t.spans.append(
            (
                self.sid,
                self.parent,
                self.request,
                self.name,
                self.start,
                end,
                threading.current_thread().name,
            )
        )
        return False


def install(tracer: Tracer):
    """Wrap the layer entry points; returns the undo function."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from elephantdb_spark import bloom, registry, store

    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    # store: version resolution on every serving call; publish; copy-forward
    orig_all_versions = store.DomainStore.all_versions

    def all_versions(self):
        if not tracer.in_request():
            return orig_all_versions(self)
        t0 = _now()
        with tracer.span("store.resolve"):
            out = orig_all_versions(self)
        tracer.add("store.resolve.calls")
        tracer.add("store.resolve.ns", _now() - t0)
        return out

    patch(store.DomainStore, "all_versions", all_versions)

    orig_succeed = store.DomainStore.succeed_version

    def succeed_version(self, version):
        t0 = _now()
        with tracer.span("store.publish"):
            orig_succeed(self, version)
        tracer.add("store.publish.calls")
        tracer.add("store.publish.ns", _now() - t0)

    patch(store.DomainStore, "succeed_version", succeed_version)

    orig_sync = store.DomainStore.synchronize_versions

    def synchronize_versions(self, old_version, new_version):
        t0 = _now()
        with tracer.span("store.copy_forward"):
            copied = orig_sync(self, old_version, new_version)
        tracer.add("store.copy_forward.calls")
        tracer.add("store.copy_forward.ns", _now() - t0)
        tracer.add("store.copy_forward.shards", len(copied))
        return copied

    patch(store.DomainStore, "synchronize_versions", synchronize_versions)

    # sharding: per-key routing is too small for a span; its time is
    # charged to the enclosing span as inline child time
    orig_shard_index = registry.HashModScheme.shard_index

    def shard_index(self, key, num_shards):
        if not tracer.in_request():
            return orig_shard_index(self, key, num_shards)
        t0 = _now()
        out = orig_shard_index(self, key, num_shards)
        dt = _now() - t0
        tracer.add_inline(dt)
        tracer.add("sharding.route.keys")
        tracer.add("sharding.route.ns", dt)
        return out

    patch(registry.HashModScheme, "shard_index", shard_index)

    # engine: in-memory group probe
    orig_index_in = pc.index_in

    def index_in(*args, **kwargs):
        if not tracer.in_request():
            return orig_index_in(*args, **kwargs)
        t0 = _now()
        with tracer.span("engine.group_probe"):
            out = orig_index_in(*args, **kwargs)
        tracer.add("engine.group_probe.calls")
        tracer.add("engine.group_probe.ns", _now() - t0)
        if threading.current_thread().name.startswith("edb-serve"):
            tracer.add("engine.group_probe.fanout_calls")
        return out

    patch(pc, "index_in", index_in)

    # engine: file opens, whole-group decodes and streamed reads
    orig_pf = pq.ParquetFile

    class TracedParquetFile(orig_pf):
        def __init__(self, *args, **kwargs):
            if not tracer.in_request():
                super().__init__(*args, **kwargs)
                return
            t0 = _now()
            with tracer.span("engine.open"):
                super().__init__(*args, **kwargs)
            tracer.add("engine.open.calls")
            tracer.add("engine.open.ns", _now() - t0)

        def read_row_groups(self, *args, **kwargs):
            if not tracer.in_request():
                return super().read_row_groups(*args, **kwargs)
            t0 = _now()
            with tracer.span("engine.decode"):
                tbl = super().read_row_groups(*args, **kwargs)
            tracer.add("engine.decode.calls")
            tracer.add("engine.decode.ns", _now() - t0)
            tracer.add("engine.decode.bytes", tbl.nbytes)
            return tbl

        def iter_batches(self, *args, **kwargs):
            if tracer.in_request():
                tracer.add("engine.stream.calls")
            return super().iter_batches(*args, **kwargs)

    patch(pq, "ParquetFile", TracedParquetFile)

    # bloom: sidecar loads, key hashing and membership tests, sidecar build
    orig_load = bloom.load_sidecar

    def load_sidecar(data_path):
        out = orig_load(data_path)
        if out is not None:  # only serving handles load sidecars
            tracer.add("bloom.load.calls")
        return out

    patch(bloom, "load_sidecar", load_sidecar)

    orig_hash_keys = bloom.BloomFilter.__dict__["hash_keys"].__func__
    digest_keys = threading.local()

    def hash_keys(keys):
        if not tracer.in_request():
            return orig_hash_keys(keys)
        keys = list(keys)
        t0 = _now()
        with tracer.span("bloom.hash"):
            blob = orig_hash_keys(keys)
        tracer.add("bloom.ns", _now() - t0)
        tracer.add("bloom.hashed_keys", len(keys))
        digest_keys.map = {blob[i * 16:(i + 1) * 16]: k for i, k in enumerate(keys)}
        return blob

    patch(bloom.BloomFilter, "hash_keys", staticmethod(hash_keys))

    orig_contains = bloom.BloomFilter.contains_digests

    def contains_digests(self, digests):
        if not tracer.in_request():
            return orig_contains(self, digests)
        t0 = _now()
        with tracer.span("bloom.test"):
            out = orig_contains(self, digests)
        tracer.add("bloom.ns", _now() - t0)
        tracer.add("bloom.tested_keys", len(out))
        tracer.add("bloom.rejects", len(out) - sum(out))
        known = getattr(digest_keys, "map", {})
        if tracer.is_present is not None:
            for i, ok in enumerate(out):
                key = known.get(digests[i * 16:(i + 1) * 16])
                if key is None or tracer.is_present(key):
                    continue
                tracer.add("bloom.absent_tested")
                if ok:
                    tracer.add("bloom.false_passes")
        return out

    patch(bloom.BloomFilter, "contains_digests", contains_digests)

    orig_build_blooms = bloom.build_bloom_sidecars

    def build_bloom_sidecars(*args, **kwargs):
        t0 = _now()
        with tracer.span("bloom.build"):
            out = orig_build_blooms(*args, **kwargs)
        tracer.add("bloom.build.calls")
        tracer.add("bloom.build.ns", _now() - t0)
        return out

    patch(bloom, "build_bloom_sidecars", build_bloom_sidecars)

    # fanout: probes the engine hands to its edb-serve pool stay in the
    # submitting request
    orig_submit = ThreadPoolExecutor.submit

    def submit(self, fn, /, *args, **kwargs):
        if not self._thread_name_prefix.startswith("edb-serve"):
            return orig_submit(self, fn, *args, **kwargs)
        ctx = tracer.current()

        def run(*a, **kw):
            st = tracer._stack()
            if ctx is not None:
                st.append(ctx)
            try:
                return fn(*a, **kw)
            finally:
                if ctx is not None:
                    st.pop()

        return orig_submit(self, run, *args, **kwargs)

    patch(ThreadPoolExecutor, "submit", submit)

    def restore():
        for owner, attr, old in reversed(undo):
            setattr(owner, attr, old)

    return restore
