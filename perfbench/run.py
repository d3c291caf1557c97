"""neurondb-spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload vector_search --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds a ``local[nproc]`` session through
``neurondb_spark.session.get_spark``, generates the workload's inputs from
``--seed``, sets up, runs one untimed warm-up cycle and then about
``--seconds`` of timed cycles of the closed loop, and checks every output.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Exits non-zero when any check fails. All files
it writes live under ``.bench_work/`` in the working directory and are
removed at exit."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Driver heap sized to fit a 15 GB host next to other tenants; the engine's
# 24g default got the JVM OOM-killed on such a host (README.md, defects).
DRIVER_MEM = "3g"


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["NEURONDB_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _session_conf(work: str) -> dict:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM (and the Python
    workers below it) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import neurondb_spark.engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    tracer = Tracer(bool(args.trace))
    tracer.install()
    spark = None
    try:
        with RssSampler() as rss:
            from neurondb_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(app=f"perfbench-{args.workload}",
                              extra_conf=_session_conf(work))
            session_s = time.perf_counter() - t0
            bench = Bench(spark, work, args.seed, args.seconds,
                          bool(args.trace), session_s, tracer)
            setup_s, space_amp = WORKLOADS[args.workload](bench)
        bench.layer["driver.peak_rss_mb"] = rss.peak / 2**20
        if args.trace:
            values = bench.per_layer()
            bench.report_targets(values, sys.stderr)
        else:
            values = bench.end_to_end(setup_s, space_amp)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        result = {"correct": bench.failed == 0, "attempted": bench.attempted,
                  "failed": bench.failed, "metrics": metrics}
        bench.report_latencies(sys.stderr)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
