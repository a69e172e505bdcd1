"""ElephantDB-on-Spark benchmark: serving latency and batch cycle cost.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``serve_hot``   — the narrow domain, which fits the decoded-group
  cache: per-request fixed costs.
* ``serve_spill`` — the wide domain (~1.8× the cache, Bloom sidecars):
  decode, eviction and Bloom.

A run builds its domain (setup), serves one closed-loop client for
``--seconds`` with no Spark job running, then runs the batch owner's
cycle: one ``update_domain`` batch publishes while one reader serves
through the handle opened at setup.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the
run with spans and counters at the layer boundaries and prints the
per-layer metrics. Every served value is checked against answers
computed from the generated input without the package; a wrong or stale
answer, or (traced) a workload that misses the layer it exists to load,
prints ``"correct": false`` and exits 1. The last stdout line is the JSON
result; everything else goes to stderr. A run record (inputs, sizes,
versions, every metric) is written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import stats
import workload as wl
from tracing import Tracer, install

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("serve_hot", "serve_spill")
NUM_SHARDS = 32
#: the run's update batch: UPDATE_KEYS keys confined to UPDATE_SHARDS
#: shards, so the others are copied forward
UPDATE_KEYS = 5_000
UPDATE_SHARDS = 4
#: reader requests after each publish whose decodes count as post-swap
POST_SWAP_REQUESTS = 20
#: keys per post-update verification read in the serving workloads
VERIFY_KEYS = 200


_T0 = time.perf_counter()


def log(*args) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s]", *args, file=sys.stderr, flush=True)


# -- expected answers ---------------------------------------------------------
PENDING = float("inf")


class Oracle:
    """What a read may return. Built from the generated input; each
    published update batch is recorded with the time update_domain
    returned, so a read that started after that time and still returns
    an older value is stale."""

    def __init__(self, expected: dict[bytes, bytes]):
        self.base = expected
        self.history: dict[bytes, list[tuple[int, bytes]]] = {}
        self.lock = threading.Lock()

    def current(self, key: bytes):
        h = self.history.get(key)
        return h[-1][1] if h else self.base.get(key)

    def begin(self, keys: list[bytes], values: list[bytes]) -> None:
        """An update is about to publish: its values become allowed."""
        with self.lock:
            for k, v in zip(keys, values):
                h = self.history.setdefault(k, [(0, self.base.get(k))])
                h.append((PENDING, v))

    def commit(self, keys: list[bytes], at_ns: int) -> None:
        """The update returned at ``at_ns``: reads that start later must
        see it."""
        with self.lock:
            for k in keys:
                h = self.history[k]
                h[-1] = (at_ns, h[-1][1])

    def check(self, key: bytes, got, started_ns: int) -> str | None:
        """None when ``got`` is an allowed answer, else 'wrong'/'stale'."""
        with self.lock:
            h = self.history.get(key)
            if h is None:
                return None if got == self.base.get(key) else "wrong"
            floor = max(i for i, (t, _) in enumerate(h) if t <= started_ns)
            if any(got == v for _, v in h[floor:]):
                return None
            return "stale" if any(got == v for _, v in h[:floor]) else "wrong"

    def user_bytes(self) -> int:
        """key+value bytes of the newest state."""
        total = sum(len(k) + len(v) for k, v in self.base.items())
        for k, h in self.history.items():
            old, new = self.base.get(k), h[-1][1]
            total += len(new) - (len(old) if old is not None else -len(k))
        return total


# -- serving -----------------------------------------------------------------
class ServeStats:
    def __init__(self):
        self.get_ms: list[float] = []
        self.mget_ms: list[float] = []
        #: (end ns, keys) of each answered request
        self.done: list[tuple[int, int]] = []
        self.keys = 0
        self.attempted = 0
        self.errors = 0
        self.error_samples: list[str] = []
        self.problems: list[str] = []


def serve_request(dom, keys, oracle, served, tracer, req_id):
    """One request through the public serving API, timed and checked."""
    started = time.perf_counter_ns()
    served.attempted += 1
    try:
        if tracer is not None:
            with tracer.span("engine.serve", request=req_id):
                got = _call(dom, keys)
            tracer.add("engine.serve.requests")
            tracer.add("engine.serve.keys", len(keys))
        else:
            got = _call(dom, keys)
    except Exception as exc:  # counted in error_rate, the run goes on
        served.errors += 1
        if len(served.error_samples) < 3:
            served.error_samples.append(repr(exc))
        return None
    end = time.perf_counter_ns()
    ms = (end - started) / 1e6
    served.done.append((end, len(keys)))
    (served.get_ms if len(keys) == 1 else served.mget_ms).append(ms)
    served.keys += len(keys)
    if set(got) != set(keys):
        served.problems.append(f"wrong key set for a {len(keys)}-key request")
    for k in keys:
        verdict = oracle.check(k, got.get(k), started)
        if verdict is not None:
            served.problems.append(f"{verdict} answer for {k!r}: {got.get(k)!r:.60}")
    return got


def _call(dom, keys):
    if len(keys) == 1:
        return {keys[0]: dom.local_get(keys[0])}
    return dom.local_multi_get(keys)


def closed_loop(dom, stream, seconds, oracle, tracer, req_ids):
    """One client, on the calling thread, sending its next request when
    the previous one returned, for ``seconds``."""
    served = ServeStats()
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while time.perf_counter() < deadline:
        serve_request(dom, stream.request(), oracle, served, tracer, next(req_ids))
    return served, time.perf_counter() - t0


# -- memory ------------------------------------------------------------------
def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mib() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not in /proc/self/status")


def host_jiffies() -> dict:
    """Busy and stolen CPU time of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return {"busy": user + nice + system + irq + softirq, "steal": steal}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- Spark -------------------------------------------------------------------
def start_spark(work: str, nproc: int):
    # Spark's Python workers import the package from this checkout, not
    # from whatever the caller's environment has on its path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the launch scripts start, not only the Spark driver
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from elephantdb_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    """Live descendants of ``pid`` (the JVM's Python worker daemon and
    its workers), from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started
    (Python worker daemon, workers) have exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in started:  # still there after 30 s
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class SparkSteps:
    """Runs each Spark step under a job group of its own. With
    ``counters``, the step's Spark counters are read after it from the
    status store; that read is not part of the step's time."""

    def __init__(self, spark, counters: bool):
        self.sc = spark.sparkContext
        self.counters = counters
        self.by_step: dict[str, list[dict]] = {}
        self._n = 0

    def run(self, step: str, fn):
        """``(fn(), seconds, end_ns)``: the end is taken when fn returns."""
        self._n += 1
        group = f"perfbench-{step}-{self._n}"
        self.sc.setJobGroup(group, step)
        t0 = time.perf_counter_ns()
        try:
            out = fn()
            end = time.perf_counter_ns()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if self.counters:
            self.by_step.setdefault(step, []).append(self._group_totals(group))
        return out, (end - t0) / 1e9, end

    def _group_totals(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_stages, stages = {}, {}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            job_stages[jid] = list(info.stageIds) if info else []
        store = jsc.statusStore()
        for sid in {s for ids in job_stages.values() for s in ids}:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never ran
                stages[sid] = None
                continue
            if st.status().toString() == "SKIPPED":
                stages[sid] = None
                continue
            stages[sid] = {
                "tasks": st.numCompleteTasks(),
                "cpu_ns": st.executorCpuTime(),
                "run_ms": st.executorRunTime(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "input_bytes": st.inputBytes(),
                "output_bytes": st.outputBytes(),
            }
        return stats.group_totals(job_stages, stages)


# -- the run -----------------------------------------------------------------
class Bench:
    def __init__(self, args, work: str, out_dir: str):
        self.args = args
        self.work = work
        self.out_dir = out_dir
        self.nproc = len(os.sched_getaffinity(0))
        self.wide = args.workload == "serve_spill"
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": self.nproc,
        }
        self.tracer = None
        self.restore_tracing = None
        self.req_ids = itertools.count(1)
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # inputs -----------------------------------------------------------------
    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from elephantdb_spark import engine

        seed = self.args.seed
        t = wl.lineitem()
        self.keys = wl.keys_of(t)
        values = wl.wide_values(t) if self.wide else wl.narrow_values(t)
        self.expected = dict(zip(self.keys, values))
        decoded = wl.decoded_bytes(self.keys, values)
        budget = engine.SERVING_GROUP_CACHE_BYTES
        self.record["domain"] = {
            "name": "lineitem_wide" if self.wide else "lineitem_kv",
            "rows": len(self.keys),
            "num_shards": NUM_SHARDS,
            "decoded_mib": round(decoded / 2**20, 2),
            "cache_budget_mib": budget / 2**20,
            "decoded_over_budget": round(decoded / budget, 3),
            "bloom_fpp": 0.01 if self.wide else None,
        }
        # the serving workloads exist to sit on either side of the cache
        # budget; a run whose domain does not is measuring something else
        if self.wide and decoded <= budget:
            raise SystemExit(f"serve_spill domain ({decoded} B) fits the {budget} B cache")
        if not self.wide and decoded >= budget:
            raise SystemExit(f"narrow domain ({decoded} B) exceeds the {budget} B cache")
        os.makedirs(os.path.join(self.work, "input"))
        self.kv_path = os.path.join(self.work, "input", "kv.parquet")
        pq.write_table(wl.kv_table(self.keys, values), self.kv_path)
        # the update batch is a file, as a batch job's input would be
        shards = set(random.Random(seed).sample(range(NUM_SHARDS), UPDATE_SHARDS))
        self.batch_keys, self.batch_values = wl.update_batch(
            self.keys, seed, 0, UPDATE_KEYS, wide=self.wide, shards=shards, num_shards=NUM_SHARDS
        )
        self.batch_path = os.path.join(self.work, "input", "update.parquet")
        pq.write_table(wl.kv_table(self.batch_keys, self.batch_values), self.batch_path)
        self.record["inputs"] = {
            "kv_parquet_bytes": os.path.getsize(self.kv_path),
            "update_keys": UPDATE_KEYS,
            "update_shards": sorted(shards),
        }

    # setup: build, open, warm ----------------------------------------------
    def setup(self, spark):
        """Build the domain, open it and read every row group once. This is
        the session's first Spark job, so it also pays the JVM's warm-up,
        as a freshly started batch job does."""
        from elephantdb_spark import Engine, build_domain

        # ~30 keys per shard: every row group is read once
        warm = self.keys[:: len(self.keys) // 1000][:1000]
        df = spark.read.parquet(self.kv_path)
        root = os.path.join(self.work, "domain")
        _, built, _ = self.steps.run("build", lambda: build_domain(spark, df, root, self.spec(), version=1, dedup="none"))
        t0 = time.perf_counter()
        dom = Engine(spark, self.work).domain("domain")
        dom.local_multi_get(warm)
        self.setup_s = built + time.perf_counter() - t0
        self.record["build_s"] = built
        log(f"setup: {self.setup_s:.2f} s (build {built:.2f} s)")
        return dom

    def spec(self):
        from elephantdb_spark import DomainSpec

        return DomainSpec(num_shards=NUM_SHARDS, persistence_opts={"bloom_fpp": 0.01} if self.wide else {})

    def stream(self, client: int):
        return wl.KeyStream(
            self.keys, self.args.seed, client, zipf=not self.wide, miss_share=0.3 if self.wide else 0.05
        )

    # batch step -----------------------------------------------------------------
    def update(self, spark, dom, oracle) -> None:
        """The update batch, published as version 2."""
        from elephantdb_spark import update_domain

        keys, values = self.batch_keys, self.batch_values
        df = spark.read.parquet(self.batch_path)
        oracle.begin(keys, values)
        version, seconds, done = self.steps.run("update", lambda: update_domain(spark, df, dom.root, version=2))
        oracle.commit(keys, done)
        self.attempted += 1
        self.record["update"] = {
            "s": seconds,
            "version_bytes": dir_bytes(dom.store.version_path(version)),
            "user_bytes": sum(len(k) + len(v) for k, v in zip(keys, values)),
        }

    def verify_after_update(self, dom, oracle, keys) -> None:
        """Serving reads of the batch just published must see it."""
        served = ServeStats()
        for i in range(0, VERIFY_KEYS, 100):
            serve_request(dom, keys[i:i + 100], oracle, served, None, None)
        self.account(served)

    def counts(self) -> dict:
        return dict(self.tracer.counts) if self.tracer is not None else {}

    def account(self, served: ServeStats) -> None:
        self.attempted += served.attempted
        self.failed += served.errors
        self.problems += served.problems

    # the run -----------------------------------------------------------------
    def run(self, spark) -> dict:
        self.steps = SparkSteps(spark, counters=bool(self.args.trace))
        if self.args.trace:
            self.tracer = Tracer(is_present=lambda k: k in self.expected)
            self.restore_tracing = install(self.tracer)
        dom = self.setup(spark)
        oracle = Oracle(self.expected)

        # serving window: no Spark job runs in it
        serve, window, rss = self.serve_window(dom, oracle, self.stream(0))
        self.account(serve)

        after = self.counts()
        reader = self.batch_phase(spark, dom, oracle, self.stream(1))
        self.batch_counts = {k: v - after.get(k, 0) for k, v in self.counts().items()}
        self.account(reader)
        log(f"serving: {serve.attempted} requests; update {self.record['update']['s']:.2f} s "
            f"with {reader.attempted} reader requests")

        newest = dom.store.version_path(dom.store.most_recent_version())
        # each with the highest percentile its sample count supports
        get = stats.latency_summary(serve.get_ms, stats.supported_tail(len(serve.get_ms)))
        mget = stats.latency_summary(serve.mget_ms, stats.supported_tail(len(serve.mget_ms)))
        self.record["serving"] = {
            "window_s": window,
            "requests": serve.attempted,
            "keys": serve.keys,
            "keys_per_s": serve.keys / window,
            "errors": serve.errors,
            "error_rate": serve.errors / serve.attempted if serve.attempted else 0.0,
            "error_samples": serve.error_samples,
            "latency_ms": {"get": get, "multiget": mget},
        }
        self.record["batch_phase_reader"] = {
            "requests": reader.attempted,
            "errors": reader.errors,
            "latency_ms": {
                "get": stats.latency_summary(reader.get_ms, stats.supported_tail(len(reader.get_ms))),
                "multiget": stats.latency_summary(reader.mget_ms, stats.supported_tail(len(reader.mget_ms))),
            },
        }
        if not get["n"]:
            raise SystemExit("no get answered in the serving window")
        # Besides setup_s, only metrics whose quartile spread over ten runs
        # stayed under a quarter of their median while other tenants of a
        # shared host took up to 63% of its CPU time in some of the runs.
        # The get tail, multiget latency, keys/s and the update's time are
        # in the record: in those runs they moved by 1.2-4x, multigets the
        # most, as each waits for shard probes on every core.
        return {
            "setup_s": (self.setup_s, "s"),
            "get_p50_ms": (get["p50"], "ms"),
            "peak_rss_mib": (rss, "MiB"),
            "bytes_per_user_byte": (dir_bytes(newest) / oracle.user_bytes(), "B/B"),
        }

    def serve_window(self, dom, oracle, stream):
        """One serving window of one closed-loop client; returns the
        served stats, the window's seconds and its peak RSS. The host's
        CPU steal over it (time other tenants of the host took) goes in
        the record: it slows every metric of the window."""
        before = self.counts()
        reset_peak_rss()
        host0, cpu0 = host_jiffies(), resource.getrusage(resource.RUSAGE_SELF)
        start_ns = time.perf_counter_ns()
        served, seconds = closed_loop(dom, stream, self.args.seconds, oracle, self.tracer, self.req_ids)
        self.window_ns = (start_ns, time.perf_counter_ns())
        rss = peak_rss_mib()
        host1, cpu1 = host_jiffies(), resource.getrusage(resource.RUSAGE_SELF)
        self.window_counts = {k: v - before.get(k, 0) for k, v in self.counts().items()}
        busy, steal = host1["busy"] - host0["busy"], host1["steal"] - host0["steal"]
        buckets = [0] * (int(seconds) + 1)
        for end, n in served.done:
            buckets[min(int((end - start_ns) / 1e9), len(buckets) - 1)] += n
        self.record["window"] = {
            "seconds": seconds,
            "host_steal_share": steal / max(1, busy + steal),
            "process_cpu_s": cpu1.ru_utime + cpu1.ru_stime - cpu0.ru_utime - cpu0.ru_stime,
            "keys_per_second_bucket": buckets,
        }
        log(f"window: {served.keys / seconds:.0f} keys/s, host steal {self.record['window']['host_steal_share']:.1%}")
        return served, seconds, rss

    def batch_phase(self, spark, dom, oracle, stream) -> ServeStats:
        """The batch owner's cycle: the update batch publishes, then its
        keys are read back, while one reader serves the workload's mix
        with half its keys from the batch. The publish drops every
        serving cache, so the reader's first requests after it re-warm."""
        stop = threading.Event()
        served = ServeStats()
        errors: list[BaseException] = []
        tracer = self.tracer
        batch = self.batch_keys

        def publishes():
            # counted when succeed_version returns, before update_domain
            # does: the reader's next request already sees the new version
            return tracer.counts.get("store.publish.calls", 0) if tracer is not None else 0

        def reader():
            rng = random.Random(self.args.seed)
            seen, since_swap = publishes(), POST_SWAP_REQUESTS
            try:
                while not stop.is_set():
                    keys = stream.request()
                    keys = list(dict.fromkeys(rng.choice(batch) if rng.random() < 0.5 else k for k in keys))
                    if publishes() != seen:
                        seen, since_swap = publishes(), 0
                    track = tracer is not None and since_swap < POST_SWAP_REQUESTS
                    before = tracer.counts.get("engine.decode.calls", 0) if track else 0
                    serve_request(dom, keys, oracle, served, tracer, next(self.req_ids))
                    if track:
                        tracer.add("engine.post_swap.decode.calls", tracer.counts.get("engine.decode.calls", 0) - before)
                    since_swap += 1
            except BaseException as exc:  # surfaced after join
                errors.append(exc)

        thread = threading.Thread(target=reader, name="reader")
        thread.start()
        try:
            self.update(spark, dom, oracle)
            self.verify_after_update(dom, oracle, batch)
        finally:
            stop.set()
            thread.join()
        if errors:
            raise errors[0]
        return served

    # per-layer metrics -----------------------------------------------------------
    def layer_metrics(self) -> dict:
        """Serving counters come from the serving window, except fanout
        and post-swap decodes, which come from the batch phase's lone
        reader; publish, copy-forward and sidecar builds from the run."""
        win, cyc, run = self.window_counts.get, self.batch_counts.get, self.tracer.counts.get

        def per(get, a, b):
            return get(a, 0) / get(b, 0) if get(b, 0) else 0.0

        # self time of each request span in the window: minus its child
        # spans (on any thread, fanout included) and per-key routing time
        lo, hi = self.window_ns
        children: dict[int, list[tuple[int, int]]] = {}
        serve_spans = []
        for sid, parent, _req, name, start, end, _thread in self.tracer.spans:
            if name == "engine.serve":
                if lo <= start < hi:
                    serve_spans.append((sid, start, end))
            elif parent is not None:
                children.setdefault(parent, []).append((start, end))
        self_ns = sum(
            stats.self_time_ns(s, e, children.get(sid, []), self.tracer.inline_ns.get(sid, 0))
            for sid, s, e in serve_spans
        )
        serve_keys = win("engine.serve.keys", 0)
        probes = win("engine.group_probe.calls", 0)
        decodes = win("engine.decode.calls", 0)
        up = self.record["update"]
        m = {
            "store.resolve.calls_per_req": (per(win, "store.resolve.calls", "engine.serve.requests"), "calls/req"),
            "store.resolve.us_per_call": (per(win, "store.resolve.ns", "store.resolve.calls") / 1e3, "us"),
            "store.publish_ms": (per(run, "store.publish.ns", "store.publish.calls") / 1e6, "ms"),
            "store.copy_forward_s": (per(run, "store.copy_forward.ns", "store.copy_forward.calls") / 1e9, "s"),
            "store.shards_rewritten_per_update": (
                NUM_SHARDS - per(run, "store.copy_forward.shards", "store.copy_forward.calls"),
                "count",
            ),
            "store.bytes_written_per_user_byte": (up["version_bytes"] / up["user_bytes"], "B/B"),
            "sharding.route.ns_per_key": (per(win, "sharding.route.ns", "sharding.route.keys"), "ns"),
            "engine.serve.self_us_per_key": (self_ns / serve_keys / 1e3 if serve_keys else 0.0, "us"),
            "engine.group_probe.count": (probes, "count"),
            "engine.group_probe.us_per_call": (per(win, "engine.group_probe.ns", "engine.group_probe.calls") / 1e3, "us"),
            "engine.open.count": (win("engine.open.calls", 0), "count"),
            "engine.open.ms": (per(win, "engine.open.ns", "engine.open.calls") / 1e6, "ms"),
            "engine.decode.count": (decodes, "count"),
            "engine.decode.mib": (win("engine.decode.bytes", 0) / 2**20, "MiB"),
            "engine.decode.ms": (per(win, "engine.decode.ns", "engine.decode.calls") / 1e6, "ms"),
            "engine.stream.count": (win("engine.stream.calls", 0), "count"),
            "engine.group_cache.hit_ratio": (1.0 - decodes / probes if probes else 0.0, "ratio"),
            "engine.fanout.share": (per(cyc, "engine.group_probe.fanout_calls", "engine.group_probe.calls"), "ratio"),
            "engine.post_swap.decode.count": (cyc("engine.post_swap.decode.calls", 0), "count"),
            "bloom.load.count": (win("bloom.load.calls", 0), "count"),
            "bloom.tested_keys": (win("bloom.tested_keys", 0), "count"),
            "bloom.reject_ratio": (per(win, "bloom.rejects", "bloom.tested_keys"), "ratio"),
            "bloom.false_pass_ratio": (per(win, "bloom.false_passes", "bloom.absent_tested"), "ratio"),
            "bloom.ns_per_key": (per(win, "bloom.ns", "bloom.tested_keys"), "ns"),
            "bloom.build_s": (per(run, "bloom.build.ns", "bloom.build.calls") / 1e9, "s"),
        }
        for step in ("build", "update"):
            t = stats.mean_step(self.steps.by_step.get(step, []))
            m.update({
                f"spark.{step}.jobs": (t["jobs"], "count"),
                f"spark.{step}.tasks": (t["tasks"], "count"),
                f"spark.{step}.cpu_s": (t["cpu_ns"] / 1e9, "s"),
                f"spark.{step}.run_s": (t["run_ms"] / 1e3, "s"),
                f"spark.{step}.shuffle_write_mib": (t["shuffle_write_bytes"] / 2**20, "MiB"),
                f"spark.{step}.shuffle_read_mib": (t["shuffle_read_bytes"] / 2**20, "MiB"),
                f"spark.{step}.spill_mib": (t["spill_bytes"] / 2**20, "MiB"),
                f"spark.{step}.input_mib": (t["input_bytes"] / 2**20, "MiB"),
                f"spark.{step}.output_mib": (t["output_bytes"] / 2**20, "MiB"),
            })
        # each workload exists to load its layers: check that it did
        hit = m["engine.group_cache.hit_ratio"][0]
        checks = {
            "serve_hot": {
                "group_cache.hit_ratio >= 0.99": hit >= 0.99,
                "decode.count <= 1% of group probes": decodes <= 0.01 * probes,
            },
            "serve_spill": {
                "group_cache.hit_ratio < 0.95": hit < 0.95,
                "bloom.reject_ratio > 0": m["bloom.reject_ratio"][0] > 0,
            },
        }[self.args.workload]
        checks["fanout.share > 0"] = m["engine.fanout.share"][0] > 0
        checks["post_swap.decode.count > 0"] = m["engine.post_swap.decode.count"][0] > 0
        self.record["layer_checks"] = checks
        # a workload that misses its layer measured something else
        for check, ok in checks.items():
            if not ok:
                self.problems.append(f"layer check failed on {self.args.workload}: {check}")
        # the base of every ratio above
        self.record["layer_bases"] = {
            "window_requests": win("engine.serve.requests", 0),
            "window_keys": serve_keys,
            "window_group_probes": probes,
            "window_bloom_tested_keys": win("bloom.tested_keys", 0),
            "window_bloom_absent_tested": win("bloom.absent_tested", 0),
            "batch_phase_group_probes": cyc("engine.group_probe.calls", 0),
            "post_swap_requests_per_publish": POST_SWAP_REQUESTS,
        }
        return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import elephantdb_spark  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: cannot import the package from {ROOT}: {exc}")
        return 2

    # Spark (and the JVM it starts) may write to stdout; only the result
    # line may, so fd 1 points at stderr until the result is printed.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    bench = Bench(args, work, out_dir)
    # the JVM starts while the inputs are generated
    starter = ThreadPoolExecutor(1, thread_name_prefix="spark-start")
    spark_future = starter.submit(start_spark, work, bench.nproc)
    starter.shutdown(wait=False)
    try:
        try:
            bench.make_inputs()
            log(f"inputs ready: {bench.record['domain']}")
        finally:
            spark = spark_future.result()
        import pyarrow
        import pyspark

        bench.record["versions"] = {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "python": sys.version.split()[0]}
        try:
            e2e = bench.run(spark)
        finally:
            if bench.restore_tracing is not None:
                bench.restore_tracing()
        bench.record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        if args.trace:
            metrics = bench.layer_metrics()
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl.gz")
            bench.record["spans"] = {"path": os.path.relpath(spans_path, ROOT), "count": bench.tracer.write(spans_path)}
            untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
            base = None
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    prev = json.load(fh)
                if prev["seconds"] == args.seconds:
                    base = prev["serving"]["keys_per_s"]
            if base:
                traced = bench.record["serving"]["keys_per_s"]
                bench.record["tracing_overhead"] = {
                    "untraced_keys_per_s": base,
                    "traced_keys_per_s": traced,
                    "slowdown": 1.0 - traced / base,
                }
        else:
            metrics = e2e
        bench.record["spark_steps"] = bench.steps.by_step
        bench.record["per_layer" if args.trace else "end_to_end"] = {k: v for k, (v, _) in metrics.items()}
        bench.record["problems"] = bench.problems[:20]
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(bench.record, fh, indent=1, default=str)
        for k, (v, unit) in metrics.items():
            log(f"  {k:40s} {v:14.6g} {unit}")
        for prob in bench.problems[:10]:
            log(f"perfbench: INCORRECT: {prob}")
        result = {
            "correct": not bench.problems,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
