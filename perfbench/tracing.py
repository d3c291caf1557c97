"""Measurement helpers: the percentile rule, a /proc RSS sampler, storage
accounting, and the span recorder used by ``--trace 1``.

Spans are recorded from outside the program: ``Tracer.install`` wraps the
public functions of each ``neurondb_spark`` module, so a call into a layer
opens a span (name, start, end, parent; the spans of one request share its
id). Spark work is attributed to a request by the JOB-ID INTERVAL between
its start and end (``DAGScheduler.nextJobId``), not by job group: streaming
micro-batches run on their own thread and never carry the caller's group.
Stage counters come from ``sc.statusStore()``, which works with
``spark.ui.enabled=false``."""

from __future__ import annotations

import functools
import inspect
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

TAIL_SAMPLES = 10
CANDIDATE_PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least TAIL_SAMPLES samples
    beyond it at sample count ``n``; None when even the median has fewer."""
    best = None
    for p in CANDIDATE_PERCENTILES:
        if n * (100.0 - p) + 1e-6 >= TAIL_SAMPLES * 100.0:
            best = p
    return best


# ------------------------------------------------------------------ memory


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants (driver JVM and
    Python workers hang below the benchmark process)."""
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak`` in bytes."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ----------------------------------------------------------------- storage

LEFTOVER_RE = re.compile(r"(_tmp$|trash|\.old$|journal|_commit\.json$)")


def walk_files(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def leftover_bytes(root: str, files: dict[str, tuple[int, int]]) -> int:
    """Bytes of files sitting under a staging, backup, trash or journal
    path component below ``root``."""
    total = 0
    for p, (size, _m) in files.items():
        parts = os.path.relpath(p, root).split(os.sep)
        if any(LEFTOVER_RE.search(c) for c in parts):
            total += size
    return total


def created_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or rewritten since
    ``before``. Files created and removed within the interval are missed."""
    n = b = 0
    for p, (size, mtime) in after.items():
        old = before.get(p)
        if old is None or old[1] != mtime:
            n += 1
            b += size
    return n, b


# ------------------------------------------------------------------- spans

# module → public callables wrapped when tracing; the span name's first
# component is the layer
LAYER_TARGETS = {
    "engine": ("neurondb_spark.engine", "NeuronSparkEngine",
               ("create_index", "knn", "knn_batch", "hybrid_search",
                "optimize", "cdc_ingest", "merge_cdc", "create_merge_table",
                "read_table", "lookup_table_many", "compact_table",
                "vacuum_table", "explain_route")),
    "plans": ("neurondb_spark.plans", None, ("rewrite_knn",)),
    "index.ivf": ("neurondb_spark.index.ivf", "IVFIndex",
                  ("build", "load", "search", "search_batch", "insert",
                   "delete", "vacuum", "compact")),
    "index.lsh": ("neurondb_spark.index.lsh", "LSHIndex",
                  ("build", "load", "search", "search_batch", "insert",
                   "delete", "vacuum", "compact")),
    "index.hnsw": ("neurondb_spark.index.hnsw", "HNSWIndex",
                   ("build", "load", "search", "search_batch", "insert",
                    "delete", "vacuum")),
    "operators.knn": ("neurondb_spark.operators.knn", None, ("knn", "knn_batch")),
    "operators.hybrid": ("neurondb_spark.operators.hybrid", None,
                         ("hybrid_search",)),
    "streaming.index_ingest": ("neurondb_spark.streaming.index_ingest", None,
                               ("index_cdc_drain",)),
    "streaming.table_merge": ("neurondb_spark.streaming.table_merge", None,
                              ("init_merge_table", "merge_stream_drain",
                               "read_merge_table", "lookup_merge_table_many",
                               "compact_merge_table", "vacuum_merge_table")),
    "data_management": ("neurondb_spark.data_management", None,
                        ("apply_dml_commit", "recover", "atomic_write_json",
                         "write_dml_journal")),
    "session": ("neurondb_spark.session", None, ("get_spark",)),
}


class Span:
    __slots__ = ("name", "start", "end", "parent", "request", "children_s")

    def __init__(self, name, start, parent, request):
        self.name, self.start, self.end = name, start, None
        self.parent, self.request, self.children_s = parent, request, 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """In-memory span recorder. A root span named ``bench.*`` opens a new
    request; its descendants share that request id. Disabled tracers
    record nothing and install no wrappers."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request = 0
        self.overhead_s = 0.0

    # -- recording
    @contextmanager
    def span(self, name: str):
        # streaming foreachBatch callbacks run on py4j callback threads; the
        # span stack belongs to the client thread, so their time stays in
        # the enclosing drain's self time
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            request = parent.request
        elif name.startswith("bench."):
            self._request += 1
            request = self._request
        else:
            request = 0  # set-up and untimed check calls
        s = Span(name, time.perf_counter(), parent, request)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
            self.spans.append(s)

    # -- installation
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    def install(self) -> None:
        """Wrap every LAYER_TARGETS callable, rebinding it in every loaded
        ``neurondb_spark`` module that imported it by name."""
        if not self.enabled:
            return
        import importlib

        for prefix, (modname, clsname, names) in LAYER_TARGETS.items():
            mod = importlib.import_module(modname)
            owner = getattr(mod, clsname) if clsname else mod
            for attr in names:
                raw = inspect.getattr_static(owner, attr)
                if isinstance(raw, staticmethod):
                    fn = raw.__func__
                    setattr(owner, attr, staticmethod(self._wrap(f"{prefix}.{attr}", fn)))
                    continue
                fn = getattr(owner, attr)
                wrapped = self._wrap(f"{prefix}.{attr}", fn)
                setattr(owner, attr, wrapped)
                if clsname is None:
                    for m in list(sys.modules.values()):
                        if (getattr(m, "__name__", "").startswith("neurondb_spark")
                                and getattr(m, attr, None) is fn):
                            setattr(m, attr, wrapped)

    # -- reduction
    def self_time_by_layer(self) -> dict[str, float]:
        """Summed self time per layer over the spans of timed requests."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.request:
                out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out


# ----------------------------------------------------------- Spark counters

STAGE_FIELDS = {
    "spark.executor_run_s": lambda sd: sd.executorRunTime() / 1e3,
    "spark.executor_cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "spark.gc_s": lambda sd: sd.jvmGcTime() / 1e3,
    "spark.shuffle_read_bytes": lambda sd: float(sd.shuffleReadBytes()),
    "spark.shuffle_write_bytes": lambda sd: float(sd.shuffleWriteBytes()),
    "spark.spill_bytes": lambda sd: float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
    "spark.input_bytes": lambda sd: float(sd.inputBytes()),
}


class SparkCounters:
    """Per-call Spark counters by job-id interval. ``begin()`` before the
    call, ``end(t0, t1)`` after it returns (action included)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.store = self.sc.statusStore()
        self.codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()

    def next_job_id(self) -> int:
        return int(self.dag.nextJobId())

    def _codegen(self) -> tuple[int, float]:
        # the histogram's uniform reservoir keeps every sample while the
        # count is below its size (1028), so the summed delta is exact
        # until then and an estimate afterwards
        h = self.codegen
        return int(h.getCount()), float(sum(h.getSnapshot().getValues())) / 1e3

    def begin(self) -> dict:
        n, s = self._codegen()
        return {"job0": self.next_job_id(), "cg_n": n, "cg_s": s,
                "cpu0": time.process_time()}

    def end(self, mark: dict, t0_wall: float, t1_wall: float) -> dict:
        """Counters for jobs with ids in [mark.job0, nextJobId). ``t0_wall``
        and ``t1_wall`` are epoch seconds bounding the call."""
        cpu = time.process_time() - mark["cpu0"]
        self.sc.listenerBus().waitUntilEmpty()
        job1 = self.next_job_id()
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"spark.jobs": 0.0, "spark.stages": 0.0, "spark.tasks": 0.0})
        intervals = []
        seen_stages = set()
        for j in range(mark["job0"], job1):
            try:
                jd = self.store.job(j)
            except Exception:  # evicted or never registered
                continue
            out["spark.jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = comp.get().getTime() / 1e3 if comp.isDefined() else t1_wall
                intervals.append((sub.get().getTime() / 1e3, end))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numTasks()
                for k, f in STAGE_FIELDS.items():
                    out[k] += f(sd)
        n, s = self._codegen()
        out["spark.codegen_compiles"] = float(n - mark["cg_n"])
        out["spark.codegen_compile_s"] = max(s - mark["cg_s"], 0.0)
        out["driver.python_cpu_s"] = cpu
        covered = _union_len([(max(a, t0_wall), min(b, t1_wall))
                              for a, b in intervals])
        out["driver.outside_jobs_s"] = max((t1_wall - t0_wall) - covered, 0.0)
        return out


def _union_len(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mix_median(groups) -> float:
    """Latency of a fixed request mix: each kind's median, weighted by the
    kind's sample count. A pooled median of several kinds whose latencies
    form separate clusters jumps between clusters from run to run; this
    moves only when some kind's median moves."""
    groups = [g for g in groups if g]
    n = sum(len(g) for g in groups)
    return sum(len(g) * median(g) for g in groups) / n if n else 0.0
