"""The benchmark's own tests: seeded inputs are byte-identical, the
percentile rule, and job-id interval attribution of Spark work.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import threading
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs as gen  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    SparkCounters,
    Tracer,
    mix_median,
    percentile,
    reportable_percentile,
)
from perfbench.workloads import write_vectors  # noqa: E402


def _digest(obj) -> bytes:
    out = []
    for v in vars(obj).values():
        if isinstance(v, np.ndarray):
            out.append(v.tobytes())
        elif isinstance(v, list) and v and hasattr(v[0], "__dict__"):
            out.extend(_digest(x) for x in v)
        elif isinstance(v, list) and v and isinstance(v[0], np.ndarray):
            out.extend(x.tobytes() for x in v)
        else:
            out.append(repr(v).encode())
    return b"".join(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.search_inputs(7, 300, 50, n_queries=20, n_batches=3)
    b = gen.search_inputs(7, 300, 50, n_queries=20, n_batches=3)
    c = gen.search_inputs(8, 300, 50, n_queries=20, n_batches=3)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    ca = gen.churn_inputs(7, 200, n_rounds=3, ins=5, dels=4, changes=6, lookups=5)
    cb = gen.churn_inputs(7, 200, n_rounds=3, ins=5, dels=4, changes=6, lookups=5)
    assert _digest(ca) == _digest(cb)
    # the parquet files the program reads are byte-identical too
    ids = np.arange(300, dtype=np.int64)
    write_vectors(str(tmp_path / "x"), ids, a.corpus, files=2)
    write_vectors(str(tmp_path / "y"), ids, b.corpus, files=2)
    for name in sorted(os.listdir(tmp_path / "x")):
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()


def test_churn_inputs_never_delete_dead_or_reuse_ids():
    ch = gen.churn_inputs(3, 200, n_rounds=6, ins=10, dels=8, changes=6, lookups=5)
    live, seen = set(range(200)), set(range(200))
    for rd in ch.rounds:
        assert set(rd.del_ids.tolist()) <= live
        assert not set(rd.ins_ids.tolist()) & seen
        live -= set(rd.del_ids.tolist())
        live |= set(rd.ins_ids.tolist())
        seen |= set(rd.ins_ids.tolist())
        seqs = [s for _k, _o, s, _v in rd.changes]
        assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_percentile_rule():
    # the highest percentile with at least ten samples beyond it
    assert reportable_percentile(19) is None
    assert reportable_percentile(20) == 50.0
    assert reportable_percentile(99) == 50.0
    assert reportable_percentile(100) == 90.0
    assert reportable_percentile(200) == 95.0
    assert reportable_percentile(1000) == 99.0
    assert reportable_percentile(10000) == 99.9
    xs = list(range(1, 101))
    assert percentile(xs, 50) == pytest.approx(np.percentile(xs, 50))
    assert percentile(xs, 90) == pytest.approx(np.percentile(xs, 90))
    assert percentile([5.0], 90) == 5.0


def test_mix_median_weights_each_kind_median_by_its_count():
    fast, slow = [0.3, 0.31, 0.29], [0.9, 0.95, 0.85]
    assert mix_median([fast, slow]) == pytest.approx((3 * 0.3 + 3 * 0.9) / 6)
    # an outlier inside one kind does not move that kind's median
    assert mix_median([fast + [5.0], slow]) == pytest.approx((4 * 0.305 + 3 * 0.9) / 7)
    assert mix_median([[], [2.0]]) == 2.0
    assert mix_median([]) == 0.0


def test_tracer_self_time_and_requests():
    tr = Tracer(True)
    with tr.span("bench.req"):
        with tr.span("engine.knn"):
            time.sleep(0.02)
            with tr.span("index.lsh.search"):
                time.sleep(0.03)
    with tr.span("engine.explain_route"):  # outside any request
        time.sleep(0.01)
    by = tr.self_time_by_layer()
    assert set(by) == {"bench", "engine", "index"}
    assert by["index"] == pytest.approx(0.03, abs=0.02)
    assert by["engine"] == pytest.approx(0.02, abs=0.02)
    assert {s.request for s in tr.spans if s.name != "engine.explain_route"} == {1}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.local.dir", local)
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    yield s
    s.stop()


def _measure(counters, fn):
    mark = counters.begin()
    w0 = time.time()
    fn()
    return counters.end(mark, w0, time.time())


def test_job_interval_attribution(spark):
    sc = spark.sparkContext
    counters = SparkCounters(spark)
    sc.parallelize(range(10), 2).count()  # before the interval: not counted

    def two_jobs():
        rdd = sc.parallelize(range(100), 3)
        rdd.count()
        rdd.map(lambda x: x * 2).sum()

    c = _measure(counters, two_jobs)
    assert c["spark.jobs"] == 2
    assert c["spark.stages"] == 2
    assert c["spark.tasks"] == 6
    assert 0.0 <= c["driver.outside_jobs_s"]

    # a job submitted from another thread (as streaming micro-batches are)
    # carries no caller job group but falls inside the id interval
    def threaded():
        t = threading.Thread(target=lambda: sc.parallelize(range(10), 4).count())
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()

    c = _measure(counters, threaded)
    assert c["spark.jobs"] == 1
    assert c["spark.tasks"] == 4

    c = _measure(counters, lambda: None)
    assert c["spark.jobs"] == 0 and c["spark.tasks"] == 0
