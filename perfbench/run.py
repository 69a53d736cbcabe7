#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload copy_load --seed 1 --seconds 10 --trace 0

Workloads: ``copy_load``, ``table_fanout``, ``analytic_suite`` (see
NOTES.md). ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer ones. The last line of stdout is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``; progress and
Spark's logs go to stderr. Everything the run writes stays under
``.perfbench_cache/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")

SETUP_SAMPLES = 1  # session starts per run; setup_s is their median
RUN_CAP_S = 110.0  # no new unit of work starts after this many seconds

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "wall_s": "s",
    "cpu_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import FORMATS, LAYERS, QUERIES, SUITE

    import fixtures

    u = {"session.start_s": "s", "session.warmup_s": "s", "fixtures.gen_s": "s"}
    for f in FORMATS:
        u[f"sources.plan_s.{f}"] = "s"
        u[f"sources.scan_s.{f}"] = "s"
        u[f"sources.tasks.{f}"] = "count"
    u["reconcile.cast_s"] = "s"
    u |= {
        "sinks.copy_s": "s",
        "sinks.copy_bytes_per_row": "B/row",
        "sinks.copy_conns": "count",
        "sinks.copy_first_byte_s": "s",
        "sinks.copy_server_busy_ratio": "ratio",
        "sinks.parquet_s": "s",
    }
    for t in fixtures.FANOUT_TABLES:
        u[f"pipeline.transfer_s.{t}"] = "s"
    u["pipeline.recount_s"] = "s"
    u["pipeline.overlap"] = "ratio"
    u["catalog.load_s"] = "s"
    for q in QUERIES:
        u[f"queries.{q}_s"] = "s"
    u["queries.plan_s"] = "s"
    for fam in SUITE:
        u[f"queries.family.{fam}_s"] = "s"
    for q in QUERIES:
        u[f"queries.drift.{q}"] = "ratio"
    u |= {
        "proc.driver_cpu_s": "s",
        "proc.jvm_cpu_s": "s",
        "proc.pyworker_cpu_s": "s",
        "proc.peak_rss_mb": "MB",
        "proc.jvm_rss_mb": "MB",
        "proc.pyworker_rss_mb": "MB",
    }
    for layer in LAYERS:
        for k in ("jobs", "stages", "tasks"):
            u[f"spark.{k}.{layer}"] = "count"
    u["trace.overhead_s"] = "s"
    return u


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout and make the
    benchmark's modules importable by Spark's Python workers."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    tmp = os.path.join(CACHE, "tmp")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(min(4, os.cpu_count() or 4)),
        # every JVM, the launcher's too; hsperfdata would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')} pyspark-shell"
        ),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def _warmup(spark) -> None:
    """The first jobs every run pays: codegen, a parquet-free aggregate and
    the start of the Python worker daemon."""
    spark.range(0, 200_000, 1, 4).selectExpr("sum(id)", "count(*)").collect()
    spark.range(0, 1000, 1, 4).foreachPartition(lambda it: sum(1 for _ in it))


def _stop_jvm(spark) -> None:
    """Stop the session and end its JVM, so the next start launches a new one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def start_sessions(samples: int):
    """Start the session ``samples`` times (a new JVM each time), keep the
    last; returns (spark, [(start_s, warmup_s), ...])."""
    import procstat
    from gcs2postgres_spark.session import get_spark

    times = []
    spark = None
    for _ in range(samples):
        if spark is not None:
            workers = procstat.live_pids(os.getpid())
            _stop_jvm(spark)
            _reap(workers)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        _warmup(spark)
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def _reap(pids: set[int], timeout: float = 15.0) -> None:
    """Wait for processes that outlive the JVM (its Python workers)."""
    end = time.time() + timeout
    while pids and time.time() < end:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build_metrics(trace: bool, res, setups) -> dict:
    import procstat

    out = {}
    if not trace:
        wall = res.wall_s if res.wall_s is not None else statistics.median(res.walls)
        rows_per_s = res.rows_per_s
        if rows_per_s is None:
            rows_per_s = statistics.median(n / w for n, w in zip(res.rows, res.walls))
        vals = {
            "setup_s": statistics.median(a + b for a, b in setups),
            "rows_per_s": rows_per_s,
            "wall_s": wall,
            "cpu_s": statistics.median(res.cpu),
        }
        return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    units = per_layer_units()
    layer = dict(res.layer)
    layer["session.start_s"] = statistics.median(a for a, _ in setups)
    layer["session.warmup_s"] = statistics.median(b for _, b in setups)
    for r in procstat.ROLES:
        layer[f"proc.{r}_cpu_s"] = statistics.median(res.cpu_role.get(r, [0.0]))
    layer["proc.peak_rss_mb"] = res.peak_rss / 2**20
    layer["proc.jvm_rss_mb"] = res.peak_role.get("jvm", 0) / 2**20
    layer["proc.pyworker_rss_mb"] = res.peak_role.get("pyworker", 0) / 2**20
    for k, u in units.items():
        # a layer this workload does not exercise did no work: 0
        out[k] = {"value": layer.get(k, 0), "unit": u}
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["copy_load", "table_fanout", "analytic_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    started = time.perf_counter()
    sys.path[:0] = [HERE, ROOT]
    try:
        import gcs2postgres_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    _prepare_env()

    import procstat
    import workloads

    spark, setups = start_sessions(SETUP_SAMPLES)
    ctx = workloads.Ctx(
        root=ROOT, cache=CACHE, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        spark=spark, deadline=started + RUN_CAP_S,
    )
    res = workloads.Result()
    workers: set[int] = set()
    try:
        getattr(workloads, args.workload)(ctx, res)
        workers = procstat.live_pids(os.getpid(), ctx.exclude)
    finally:
        _stop_jvm(spark)
        _reap(workers)
    for p in res.problems:
        print("perfbench: FAILED " + p, file=sys.stderr)
    result = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": build_metrics(bool(args.trace), res, setups),
    }
    print(f"perfbench: {args.workload} seed={args.seed} done in "
          f"{time.perf_counter() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
