"""The benchmark's workloads: closed loops, one client thread, no think
time. Each request is timed around the public call AND its action (the
``collect`` that runs the Spark jobs); outputs are checked against numpy
or a Python replay outside the timed region."""

from __future__ import annotations

import itertools
import os
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

from perfbench import inputs as gen
from perfbench.tracing import (
    SparkCounters,
    Tracer,
    created_since,
    leftover_bytes,
    median,
    mix_median,
    percentile,
    reportable_percentile,
    walk_files,
)

# Sizes fit the whole benchmark (set-up, three index builds, the timed loop
# and shutdown) into about a minute per run on 4 cores; see README.md.
SEARCH_ROWS = 2000
SEARCH_DOCS = 1000
CHURN_ROWS = 2000
# At the engine default of 100 lists (and still at 16) the IVF assignment
# expression outgrows the 64 KB method limit, whole-stage codegen falls back
# and the build dominates set-up; 8 lists compile. nprobe 2 keeps the probe
# pruning 6 of the 8 lists.
IVF_NLISTS = 8
IVF_NPROBE = 2
# build order: IVF last, on a warm JVM
METHODS = ("lsh", "hnsw", "ivf")
# IVF's build (~25 s) and first CDC drain (~11 s) alone exceed a churn run's
# budget, so index_churn exercises the LSH (append + tombstone) and HNSW
# (upsert-swap) lifecycles plus the merge table's manifest commits.
CHURN_METHODS = ("lsh", "hnsw")
# queries per churn knn_batch: recall@10 is averaged over these, and 32
# distinct queries per index keep its seed-to-seed spread well inside bound
CHURN_BATCH = 32
# length of one warm timed cycle (vector_search) and round (index_churn) on
# the baseline host (4 vCPUs); a run measures round(seconds / length) of them
SEARCH_CYCLE_S = 7.5
CHURN_ROUND_S = 15.0
REL_TOL = 1e-6
# vector row = int64 id + DIM float32; table row = int64 id + int64 val
VEC_ROW_BYTES = 8 + 4 * gen.DIM
TABLE_ROW_BYTES = 16


VS, CH, BOTH = "vector_search", "index_churn", "both workloads"
# Every per-layer metric, printed by every workload (0 where the workload
# does not exercise the layer): (name, unit, better, the end-to-end metric
# it should move and on which workload).
PER_LAYER = [
    ("session.start_s", "s", "lower", f"setup_s ({BOTH})"),
    *[(f"index.build_s.{m}", "s", "lower", f"setup_s ({VS if m == 'ivf' else BOTH})")
      for m in METHODS],
    *[(f"engine.route.{m}", "count", "higher", f"search_p50_s, queries_per_s ({VS})")
      for m in ("exact",) + METHODS],
    ("engine.knn.construct_s", "s", "lower", f"search_p50_s, queries_per_s ({VS})"),
    ("engine.knn_batch.construct_s", "s", "lower", f"queries_per_s ({VS})"),
    ("plans.optimize_s", "s", "lower", f"search_p50_s ({VS})"),
    ("plans.rewrite_fired", "ratio", "higher", f"search_p50_s ({VS})"),
    *[(f"index.search_s.{m}", "s", "lower",
       f"search_p50_s ({VS if m == 'ivf' else BOTH})") for m in METHODS],
    ("operators.knn.exact_s", "s", "lower", f"search_p50_s ({VS})"),
    ("operators.hybrid.search_s", "s", "lower", f"search_p50_s ({VS})"),
    *[(f"streaming.cdc_drain_s.{m}", "s", "lower", f"queries_per_s ({CH})")
      for m in CHURN_METHODS],
    ("streaming.merge_drain_s", "s", "lower", f"queries_per_s ({CH})"),
    ("streaming.lookup_many_s", "s", "lower", f"queries_per_s ({CH})"),
    ("streaming.write_p50_s", "s", "lower", f"queries_per_s ({CH})"),
    ("streaming.changes_per_s", "1/s", "higher", f"queries_per_s ({CH})"),
    ("index.maintenance_s", "s", "lower", f"queries_per_s ({CH})"),
    *[(f"index.files.{m}", "count", "lower", f"space_amp, search_p50_s ({CH})")
      for m in CHURN_METHODS],
    *[(f"index.tombstones.{m}", "count", "lower", f"space_amp, search_p50_s ({CH})")
      for m in CHURN_METHODS],
    ("table.files", "count", "lower", f"space_amp ({CH})"),
    ("data_management.leftover_bytes", "bytes", "lower", f"space_amp ({CH})"),
    ("storage.bytes_written", "bytes", "lower", f"space_amp, queries_per_s ({CH})"),
    ("storage.files_created", "count", "lower", f"space_amp, queries_per_s ({CH})"),
    ("storage.write_amp", "ratio", "lower", f"space_amp, queries_per_s ({CH})"),
    ("spark.jobs", "count", "lower", f"search_p50_s ({BOTH})"),
    ("spark.stages", "count", "lower", f"search_p50_s ({BOTH})"),
    ("spark.tasks", "count", "lower", f"search_p50_s ({BOTH})"),
    ("spark.executor_run_s", "s", "lower", f"queries_per_s ({BOTH})"),
    ("spark.executor_cpu_s", "s", "lower", f"queries_per_s ({BOTH})"),
    ("spark.gc_s", "s", "lower", f"queries_per_s ({BOTH})"),
    ("spark.shuffle_read_bytes", "bytes", "lower", f"search_p50_s, queries_per_s ({BOTH})"),
    ("spark.shuffle_write_bytes", "bytes", "lower", f"search_p50_s, queries_per_s ({BOTH})"),
    ("spark.spill_bytes", "bytes", "lower", f"search_p50_s, queries_per_s ({BOTH})"),
    ("spark.input_bytes", "bytes", "lower", f"search_p50_s, queries_per_s ({BOTH})"),
    ("spark.codegen_compiles", "count", "lower", f"search_p50_s ({VS})"),
    ("spark.codegen_compile_s", "s", "lower", f"search_p50_s ({VS})"),
    ("driver.python_cpu_s", "s", "lower", f"search_p50_s ({BOTH})"),
    ("driver.outside_jobs_s", "s", "lower", f"search_p50_s ({BOTH})"),
    ("driver.jvm_gc_s", "s", "lower", f"search_p50_s ({BOTH})"),
    ("driver.peak_rss_mb", "MB", "lower", "none: memory, reported alone"),
    *[(f"self_s.{layer}", "s", "lower", f"the layer's own targets ({BOTH})") for layer in (
        "bench", "action", "engine", "plans", "index", "operators",
        "streaming", "data_management", "session")],
    ("trace.overhead_s", "s", "lower", "none: cost of tracing itself"),
]


class Bench:
    """Shared harness: session, timing, checks and per-layer counters."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool, session_start_s: float, tracer: Tracer):
        from neurondb_spark.engine import NeuronSparkEngine

        self.spark, self.work = spark, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tracer = tracer
        self.eng = NeuronSparkEngine(spark, catalog_dir=os.path.join(work, "catalog"))
        self.eng.set_config("ivf.nlists", str(IVF_NLISTS))
        self.eng.set_config("ivf.nprobe", str(IVF_NPROBE))
        self.counters = SparkCounters(spark) if trace else None
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = {"session.start_s": session_start_s}
        self.spark_totals: dict[str, float] = defaultdict(float)
        self.route_counts: dict[str, int] = defaultdict(int)
        self.attempted = self.failed = self.requests = self.query_vectors = 0
        self.recall: list[float] = []
        self.fired: list[bool] = []  # per optimize call: did the rewrite fire
        self.timed_wall = 0.0

    # ------------------------------------------------------------ requests

    def request(self, kind: str, fn):
        """Run one timed request; returns its result or None on error."""
        self.attempted += 1
        mark = self.counters.begin() if self.trace else None
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(f"bench.{kind}"):
                out = fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {kind} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        self.lat[kind].append(dt)
        self.requests += 1
        if self.trace:
            o0 = time.perf_counter()
            for k, v in self.counters.end(mark, w0, time.time()).items():
                self.spark_totals[k] += v
            self.tracer.overhead_s += time.perf_counter() - o0
        return out

    def action(self, df):
        with self.tracer.span("action.collect"):
            return df.collect()

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    # -------------------------------------------------------------- checks

    @staticmethod
    def brute(vecs: np.ndarray, ids: np.ndarray, q, k: int = gen.K):
        d = np.sqrt(((vecs.astype(np.float64) - np.asarray(q, np.float64)) ** 2).sum(1))
        order = np.lexsort((ids, d))[:k]
        return ids[order], d[order], dict(zip(ids.tolist(), d.tolist()))

    def check_topk(self, rows, vecs, ids, q, exact: bool, what: str,
                   dead: set | None = None) -> list[int]:
        """Every answer: ids unique (and not deleted), rows sorted by
        distance, distances equal numpy's for the returned ids. Exact: the
        ids equal numpy's top-k (ties by id). ANN: at most k rows (a probe
        may reach fewer candidates); recall@k is recorded. Returns the
        returned ids."""
        got_ids = [int(r["vec_id"]) for r in rows]
        got_d = [float(r["distance"]) for r in rows]
        true_ids, _true_d, dmap = self.brute(vecs, ids, q)
        want_n = min(gen.K, len(ids))
        bad = []
        if len(got_ids) != want_n and (exact or len(got_ids) > want_n):
            bad.append(f"{len(got_ids)} rows")
        if len(set(got_ids)) != len(got_ids):
            bad.append("duplicate ids")
        if any(a > b for a, b in zip(got_d, got_d[1:])):
            bad.append("unsorted")
        if not all(i in dmap and abs(dmap[i] - d) <= REL_TOL * max(1.0, d)
                   for i, d in zip(got_ids, got_d)):
            bad.append("distance differs from numpy")
        if dead and set(got_ids) & dead:
            bad.append(f"deleted ids {sorted(set(got_ids) & dead)}")
        if exact and got_ids != true_ids.tolist():
            bad.append("ids differ from numpy top-k")
        if not exact:
            self.recall.append(len(set(got_ids) & set(true_ids.tolist())) / gen.K)
        self.check(not bad, f"{what}: {', '.join(bad)}")
        return got_ids

    def check_batch(self, rows, qs, vecs, ids, exact: bool, what: str,
                    dead: set | None = None) -> None:
        for j, v in qs:
            mine = sorted((r for r in rows if int(r["qid"]) == j),
                          key=lambda r: (r["distance"], r["vec_id"]))
            self.check_topk(mine, vecs, ids, v, exact, f"{what} qid {j}", dead)

    # ------------------------------------------------------------- helpers

    def route_of(self, index: str | None) -> str:
        return self.eng.explain_route(index)["route"]

    def build_indexes(self, df, prefix: str, methods=METHODS) -> None:
        for m in methods:
            kw = {"id_col": "vec_id"} if m == "hnsw" else {}
            t0 = time.perf_counter()
            self.eng.create_index(f"{prefix}_{m}", df, "embedding", method=m,
                                  metric="l2", dim=gen.DIM, **kw)
            self.layer[f"index.build_s.{m}"] = time.perf_counter() - t0

    def index_path(self, name: str) -> str:
        return self.eng.catalog.get("indexes", name)["path"]

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def loop(self, cycle, cycle_s: float, on_timed=None) -> None:
        """One untimed warm-up cycle, then a closed loop of whole timed
        cycles: ``seconds`` / ``cycle_s`` of them, rounded, at least one.
        ``cycle_s`` is the length of a warm cycle on the baseline host, so a
        run measures about ``seconds`` there, and every run measures the
        same request mix however fast the host is. The first request of
        each kind pays for plan codegen, class loading and JIT compilation
        (from a quarter more to three times a warm one's latency on the
        baseline host, more on a busy one), so warm-up outputs are checked
        but their timings and counters are dropped. Garbage is collected
        before timing starts, so the timed requests do not pay for the
        set-up's heap. ``on_timed`` resets a workload's own counters when
        timing starts."""
        import gc

        cycle(0)
        self.lat.clear()
        self.route_counts.clear()
        self.spark_totals.clear()
        self.requests = self.query_vectors = 0
        self.tracer.spans.clear()
        self.tracer.overhead_s = 0.0
        if on_timed is not None:
            on_timed()
        gc.collect()
        self.spark._jvm.System.gc()
        gc0 = self.jvm_gc_s()
        t0 = time.perf_counter()
        for c in range(1, 1 + max(1, round(self.seconds / cycle_s))):
            cycle(c)
        self.timed_wall = time.perf_counter() - t0
        self.layer["driver.jvm_gc_s"] = (self.jvm_gc_s() - gc0) / max(self.requests, 1)

    # ------------------------------------------------------------- results

    def end_to_end(self, setup_s: float, space_amp: float) -> dict:
        searches = [v for k, v in self.lat.items() if k.startswith("search.")]
        return {
            "setup_s": (setup_s, "s"),
            "search_p50_s": (mix_median(searches), "s"),
            "queries_per_s": (self.query_vectors / self.timed_wall, "1/s"),
            "recall_at_10": (float(np.mean(self.recall)) if self.recall else 0.0, "ratio"),
            "space_amp": (space_amp, "ratio"),
        }

    def per_layer(self) -> dict:
        """Every PER_LAYER metric; Spark counters, self times and tracing
        overhead are per timed request."""
        n = max(self.requests, 1)
        vals = dict(self.layer)
        for m in ("exact",) + METHODS:
            vals[f"engine.route.{m}"] = float(self.route_counts[m])
        for k, v in self.spark_totals.items():
            vals[k] = v / n
        for layer, v in self.tracer.self_time_by_layer().items():
            vals[f"self_s.{layer}"] = v / n
        vals["trace.overhead_s"] = self.tracer.overhead_s / n
        return {name: (float(vals.get(name, 0.0)), unit) for name, unit, _, _ in PER_LAYER}

    def report_targets(self, values: dict, out) -> None:
        """Each per-layer value with the end-to-end metric it should move."""
        for name, _unit, _better, target in PER_LAYER:
            v, u = values[name]
            print(f"perfbench: {name:34s} {v:14.4f} {u:6s} -> {target}", file=out)

    def report_latencies(self, out) -> None:
        """Per request kind: sample count, median, and the highest
        percentile with at least ten samples beyond it (if any)."""
        for k in sorted(k for k in self.layer if k.startswith(("session.", "index.build_s"))):
            print(f"perfbench: set-up {k} {self.layer[k]:.4f}s", file=out)
        print(f"perfbench: driver JVM GC during the loop "
              f"{self.layer['driver.jvm_gc_s']:.4f}s per request", file=out)
        for kind in sorted(k for k, v in self.lat.items() if v):
            xs = self.lat[kind]
            p = reportable_percentile(len(xs))
            tail = f" p{p:g} {percentile(xs, p):.4f}s" if p and p > 50 else ""
            print(f"perfbench: {kind:24s} n={len(xs):4d} p50 {median(xs):.4f}s{tail}",
                  file=out)

    def span_p50(self, name: str) -> float:
        return median([s.duration for s in self.tracer.spans if s.name == name])


# ---------------------------------------------------------------- parquet


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, files: int = 4,
                  extra: dict | None = None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        cols = {"vec_id": pa.array(ids[part], pa.int64()),
                "embedding": pa.array(list(vecs[part]), pa.list_(pa.float32()))}
        for k, v in (extra or {}).items():
            cols[k] = pa.array([v[j] for j in part])
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{i:03d}.parquet"))


def publish(table, directory: str, name: str) -> None:
    """Write a change file atomically (the drains list the directory)."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(os.path.dirname(directory), f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


# ---------------------------------------------------------- vector_search


def vector_search(b: Bench) -> tuple[float, float]:
    """Read path over IVF, LSH and HNSW; returns (setup_s, space_amp)."""
    from neurondb_spark.operators.knn import _query_lit
    from neurondb_spark.functions.distance import distance

    t0 = time.perf_counter()
    inp = gen.search_inputs(b.seed, SEARCH_ROWS, SEARCH_DOCS, n_queries=400,
                            n_batches=40)
    ids = np.arange(SEARCH_ROWS, dtype=np.int64)
    corpus_dir = os.path.join(b.work, "corpus")
    docs_dir = os.path.join(b.work, "docs")
    write_vectors(corpus_dir, ids, inp.corpus)
    write_vectors(docs_dir, np.arange(SEARCH_DOCS, dtype=np.int64), inp.docs_vec,
                  files=2, extra={"text": inp.docs_text})
    df = b.spark.read.parquet(corpus_dir)
    docs = b.spark.read.parquet(docs_dir)
    b.build_indexes(df, "vs")
    setup_s = time.perf_counter() - t0 + b.layer["session.start_s"]

    qi = itertools.count()

    def nxt() -> int:
        return next(qi) % len(inp.queries)

    def knn(index, mode):
        i = nxt()
        q = inp.queries[i].tolist()
        b.eng.set_config("route.mode", mode)
        route = b.route_of(index)
        rows = b.request(f"search.knn.{route}", lambda: b.action(b.eng.knn(
            df, "embedding", q, k=gen.K, metric="l2", dim=gen.DIM,
            index=index, tiebreak=["vec_id"])))
        if rows is None:
            return
        b.route_counts[route] += 1
        b.query_vectors += 1
        b.check_topk(rows, inp.corpus, ids, q, route == "exact",
                     f"knn {index} {mode} q{i}")

    def knn_batch(c, j, index):
        batch = inp.batches[(len(METHODS) * c + j) % len(inp.batches)]
        b.eng.set_config("route.mode", "index")
        route = b.route_of(index)
        qs = [(n, v.tolist()) for n, v in enumerate(batch)]
        rows = b.request(f"search.knn_batch.{route}", lambda: b.action(b.eng.knn_batch(
            df, "embedding", qs, k=gen.K, metric="l2", dim=gen.DIM,
            index=index, tiebreak=["vec_id"])))
        if rows is None:
            return
        b.route_counts[route] += 1
        b.query_vectors += len(qs)
        b.check_batch(rows, qs, inp.corpus, ids, route == "exact", f"knn_batch {route}")

    def hybrid():
        i = nxt()
        q, text = inp.queries[i].tolist(), inp.query_text[i]
        rows = b.request("search.hybrid", lambda: b.action(b.eng.hybrid_search(
            docs, "embedding", "text", q, text, k=gen.K, dim=gen.DIM,
            tiebreak=["vec_id"])))
        if rows is None:
            return
        b.query_vectors += 1
        scores = [float(r["hybrid_score"]) for r in rows]
        b.check(len(rows) == gen.K and all(a >= b_ for a, b_ in zip(scores, scores[1:]))
                and all(0 <= int(r["vec_id"]) < SEARCH_DOCS for r in rows),
                f"hybrid q{i}")

    def optimize(mode):
        i = nxt()
        q = inp.queries[i].tolist()
        b.eng.set_config("route.mode", mode)
        frame = (df.withColumn("distance", distance("embedding", _query_lit(q), "l2",
                                                    dim=gen.DIM, checked=False))
                 .orderBy("distance").limit(gen.K))
        rows = b.request(f"search.optimize.{mode}",
                         lambda: b.action(b.eng.optimize(frame)))
        if rows is None:
            return
        fired = b.eng.explain_rewrite(frame)
        b.fired.append(bool(fired.get("rewrite")))
        b.query_vectors += 1
        b.check_topk(rows, inp.corpus, ids, q, not fired.get("rewrite"),
                     f"optimize {mode} q{i}")

    def cycle(c):
        # a fixed mix, the same in every cycle: single-vector knn with no
        # index (auto routing, exact), auto-routed with a registered index
        # (one index per cycle, in turn) and forced through each index; one
        # 16-query batch through each index; one hybrid search; optimize
        # once auto (the rewrite declines) and once forced (it fires)
        knn(None, "auto")
        knn(f"vs_{METHODS[c % len(METHODS)]}", "auto")
        for m in METHODS:
            knn(f"vs_{m}", "index")
        for j, m in enumerate(METHODS):
            knn_batch(c, j, f"vs_{m}")
        hybrid()
        optimize("auto")
        optimize("index")

    b.loop(cycle, SEARCH_CYCLE_S)
    b.layer["plans.rewrite_fired"] = float(np.mean(b.fired)) if b.fired else 0.0
    index_bytes = sum(sz for m in METHODS
                      for sz, _ in walk_files(b.index_path(f"vs_{m}")).values())
    space_amp = index_bytes / (len(METHODS) * SEARCH_ROWS * VEC_ROW_BYTES)
    b.layer.update(search_layers(b))
    return setup_s, space_amp


def search_layers(b: Bench) -> dict:
    return {
        "engine.knn.construct_s": b.span_p50("engine.knn"),
        "engine.knn_batch.construct_s": b.span_p50("engine.knn_batch"),
        "plans.optimize_s": b.span_p50("engine.optimize"),
        "index.search_s.ivf": median(b.lat["search.knn.ivf"]),
        "index.search_s.lsh": median(b.lat["search.knn.lsh"]),
        "index.search_s.hnsw": median(b.lat["search.knn.hnsw"]),
        "operators.knn.exact_s": median(b.lat["search.knn.exact"]),
        "operators.hybrid.search_s": median(b.lat["search.hybrid"]),
    }


# ------------------------------------------------------------ index_churn


def index_churn(b: Bench) -> tuple[float, float]:
    """Write path: CDC drains into IVF/LSH/HNSW, merge-table CDC, reads
    and periodic maintenance; returns (setup_s, space_amp)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from neurondb_spark.index.lsh import LSHIndex

    t0 = time.perf_counter()
    inp = gen.churn_inputs(b.seed, CHURN_ROWS, n_rounds=40, ins=40, dels=20,
                           changes=40, lookups=16,
                           queries=CHURN_BATCH * len(CHURN_METHODS))
    base_ids = np.arange(CHURN_ROWS, dtype=np.int64)
    base_dir = os.path.join(b.work, "base")
    write_vectors(base_dir, base_ids, inp.base)
    df = b.spark.read.parquet(base_dir)
    b.build_indexes(df, "ch", CHURN_METHODS)
    table = {int(i): int(v) for i, v in zip(base_ids, inp.table_vals)}
    b.eng.create_merge_table("kv", b.spark.createDataFrame(
        [(k, v) for k, v in table.items()], "id long, val long"), ["id"], n_buckets=8)
    b.eng.set_config("route.mode", "index")
    setup_s = time.perf_counter() - t0 + b.layer["session.start_s"]

    cdc_dir = os.path.join(b.work, "cdc")
    merge_dir = os.path.join(b.work, "merge")
    cdc_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("op", T.StringType()),
    ])
    merge_schema = "id long, val long, op string, seq long"
    live = {int(i): v for i, v in zip(base_ids, inp.base)}
    dead: set[int] = set()
    roots = [b.index_path(f"ch_{m}") for m in CHURN_METHODS] + [
        b.eng.catalog.get("tables", "kv")["path"]]
    files = {r: walk_files(r) for r in roots}
    acct = {"files": 0, "bytes": 0, "leftover": 0, "submitted": 0, "changes": 0}

    def account():
        """Storage delta of the call just made, across all structures."""
        for r in roots:
            after = walk_files(r)
            n, nb = created_since(files[r], after)
            acct["files"] += n
            acct["bytes"] += nb
            acct["leftover"] = max(acct["leftover"], leftover_bytes(r, after))
            files[r] = after

    def write(kind, fn, rows: int, row_bytes: int):
        b.request(kind, fn)
        account()
        acct["submitted"] += rows * row_bytes
        acct["changes"] += rows

    def cycle(c):
        if c >= len(inp.rounds):
            raise RuntimeError("perfbench: churn inputs exhausted")
        rd = inp.rounds[c]
        ops = pa.table({
            "vec_id": pa.array(np.concatenate([rd.ins_ids, rd.del_ids]), pa.int64()),
            "embedding": pa.array(list(rd.ins_vecs) + [None] * len(rd.del_ids),
                                  pa.list_(pa.float32())),
            "op": pa.array(["i"] * len(rd.ins_ids) + ["d"] * len(rd.del_ids)),
        })
        publish(ops, cdc_dir, f"round-{c:04d}.parquet")
        n_ops = len(rd.ins_ids) + len(rd.del_ids)
        for m in CHURN_METHODS:
            write(f"write.cdc.{m}",
                  lambda m=m: b.eng.cdc_ingest(f"ch_{m}", cdc_dir, cdc_schema),
                  n_ops, VEC_ROW_BYTES)
        for i, v in zip(rd.ins_ids.tolist(), rd.ins_vecs):
            live[i] = v
        for i in rd.del_ids.tolist():
            live.pop(i, None)
            dead.add(i)
        ch = pa.table({
            "id": pa.array([k for k, *_ in rd.changes], pa.int64()),
            "val": pa.array([v for *_, v in rd.changes], pa.int64()),
            "op": pa.array([o for _, o, _, _ in rd.changes]),
            "seq": pa.array([s for _, _, s, _ in rd.changes], pa.int64()),
        })
        publish(ch, merge_dir, f"round-{c:04d}.parquet")
        write("write.merge", lambda: b.eng.merge_cdc("kv", merge_dir, merge_schema),
              len(rd.changes), TABLE_ROW_BYTES)
        for _k, op, _s, val in sorted(rd.changes, key=lambda x: x[2]):
            if op == "d":
                table.pop(_k, None)
            else:
                table[_k] = val
        # reads: per index, one query at a freshly inserted vector, two near
        # base points and one batch of CHURN_BATCH such queries (each index
        # gets its own queries); then one batched point lookup
        ids = np.fromiter(live.keys(), np.int64, len(live))
        vecs = np.stack(list(live.values()))
        for j, m in enumerate(CHURN_METHODS):
            qs = [(n, v.tolist()) for n, v in
                  enumerate(rd.queries[CHURN_BATCH * j:CHURN_BATCH * (j + 1)])]
            target = int(rd.ins_ids[j])
            for q, fresh in ((live[target].tolist(), True), (qs[0][1], False),
                             (qs[1][1], False)):
                rows = b.request(f"search.knn.{m}", lambda m=m, q=q: b.action(b.eng.knn(
                    df, "embedding", q, k=gen.K, metric="l2", dim=gen.DIM,
                    index=f"ch_{m}", tiebreak=["vec_id"])))
                if rows is None:
                    continue
                b.route_counts[m] += 1
                b.query_vectors += 1
                got = b.check_topk(rows, vecs, ids, q, False, f"churn {m} round {c}", dead)
                if fresh and m == "lsh":
                    # the probe reaches the inserted row's own bucket, so it
                    # must come back first, at distance 0
                    b.check(bool(got) and got[0] == target, f"churn lsh insert {target}")
            rows = b.request(f"search.knn_batch.{m}", lambda m=m, qs=qs: b.action(
                b.eng.knn_batch(df, "embedding", qs, k=gen.K, metric="l2", dim=gen.DIM,
                                index=f"ch_{m}", tiebreak=["vec_id"])))
            if rows is not None:
                b.route_counts[m] += 1
                b.query_vectors += len(qs)
                b.check_batch(rows, qs, vecs, ids, False, f"churn knn_batch {m}", dead)
        keys = [{"id": k} for k in rd.lookup_keys]
        rows = b.request("lookup", lambda: b.action(b.eng.lookup_table_many("kv", keys)))
        if rows is not None:
            got = {int(r["id"]): int(r["val"]) for r in rows}
            want = {k: table[k] for k in rd.lookup_keys if k in table}
            b.check(got == want, f"lookup round {c}")
        b.request("maintenance", maintain)
        account()

    def maintain():
        # HNSW's vacuum is a full graph rebuild (a build's cost), so the
        # maintenance pass covers the LSH layout and the merge table
        LSHIndex.load(b.index_path("ch_lsh")).vacuum(b.spark)
        b.eng.compact_table("kv")
        b.eng.vacuum_table("kv")

    def on_timed():
        for k in ("files", "bytes", "submitted", "changes"):
            acct[k] = 0

    b.loop(cycle, CHURN_ROUND_S, on_timed)

    # full-table check against the last-writer-wins replay (untimed)
    state = {int(r["id"]): int(r["val"]) for r in b.eng.read_table("kv").collect()}
    b.check(state == table, "read_table equals replay")

    index_bytes = 0
    for m, r in zip(CHURN_METHODS, roots):
        fs = walk_files(r)
        index_bytes += sum(sz for sz, _ in fs.values())
        b.layer[f"index.files.{m}"] = float(len(fs))
        b.layer[f"index.tombstones.{m}"] = float(tombstone_rows(r, fs))
    table_files = walk_files(roots[-1])
    b.layer["table.files"] = float(len(table_files))
    index_bytes += sum(sz for sz, _ in table_files.values())
    live_bytes = len(CHURN_METHODS) * len(live) * VEC_ROW_BYTES + len(table) * TABLE_ROW_BYTES
    space_amp = index_bytes / live_bytes
    writes = [x for k, v in b.lat.items() if k.startswith("write.") for x in v]
    b.layer.update(search_layers(b))
    b.layer.update({
        "streaming.cdc_drain_s.lsh": median(b.lat["write.cdc.lsh"]),
        "streaming.cdc_drain_s.hnsw": median(b.lat["write.cdc.hnsw"]),
        "streaming.merge_drain_s": median(b.lat["write.merge"]),
        "streaming.lookup_many_s": median(b.lat["lookup"]),
        "streaming.write_p50_s": median(writes),
        "streaming.changes_per_s": acct["changes"] / b.timed_wall,
        "index.maintenance_s": median(b.lat["maintenance"]),
        "data_management.leftover_bytes": float(acct["leftover"]),
        "storage.bytes_written": float(acct["bytes"]),
        "storage.files_created": float(acct["files"]),
        "storage.write_amp": acct["bytes"] / max(acct["submitted"], 1),
    })
    return setup_s, space_amp


def tombstone_rows(root: str, files: dict) -> int:
    """Tombstoned ids recorded under the index's live tombstone paths."""
    import pyarrow.parquet as pq

    n = 0
    for p in files:
        rel = os.path.relpath(p, root).split(os.sep)
        if rel[0] == "tombstones" and p.endswith(".parquet"):
            n += pq.read_metadata(p).num_rows
    return n


WORKLOADS = {"vector_search": vector_search, "index_churn": index_churn}
