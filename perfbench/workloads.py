"""The three workloads. Each takes a ``Ctx`` and fills a ``Result``.

A workload runs its unit of work (one load, one fan-out, one suite pass)
in a closed loop, one after the other, until ``ctx.seconds`` of timed
work and ``MIN_UNITS`` units are done, and checks every unit's output.
With tracing on it runs a warm-up unit, then one untraced and one traced
unit back to back (``trace.overhead_s`` is their difference), plus
decomposition calls that time one layer at a time; those run only in
traced mode.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

import fixtures
import pgserver
import procstat
from copycsv import canonicalize, digest_table
from tracing import Tracer

# The 26 timed queries: the 21-query headline suite and the 5-query scale
# tier, as bench.py at the repository root times them.
SUITE = {
    "tpch": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q6_revenue_forecast",
        "q9_product_profit", "q12_priority_caseagg", "q18_large_orders", "q21_waiting_supplier",
        "agg_rollup", "window_running", "topk_per_group",
    ],
    "events": ["json_extract_agg", "events_sessionize", "asof_join_events_orders", "events_funnel_3step"],
    "dedup": [
        "dedup_exact", "dedup_minhash_lsh", "dedup_cluster_canonical", "dedup_exact_substring",
        "decontaminate_ngram13_audit",
    ],
    "similarity": ["similarity_cosine_topk", "multimodal_join"],
    "text": ["text_token_stats", "pii_redact_scrub", "corpus_bpe_encode_docs", "text_top_word_ratio"],
}
QUERIES = [q for qs in SUITE.values() for q in qs]
# Timed units per run at least; medians outvote the first, cold unit.
# The suite's oracle pass is its warm-up, so one timed pass follows it.
MIN_UNITS = {"copy_load": 5, "table_fanout": 3, "analytic_suite": 1}
FORMATS = ["parquet", "csv", "json", "avro", "iceberg"]
LAYERS = ["sources", "reconcile", "sinks", "pipeline", "catalog", "queries"]


@dataclass
class Ctx:
    root: str  # checkout root
    cache: str  # the benchmark's scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    spark: object
    deadline: float  # perf_counter() after which no new unit starts
    exclude: set[int] = field(default_factory=set)  # pids outside the program


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)  # per unit of work
    rows: list[int] = field(default_factory=list)  # source rows landed, per unit
    cpu: list[float] = field(default_factory=list)  # per unit of work
    peak_rss: int = 0
    peak_role: dict = field(default_factory=dict)
    cpu_role: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced mode)
    wall_s: float | None = None  # set when the unit wall is not a median of units
    rows_per_s: float | None = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def add_sample(self, smp: procstat.Sampler) -> None:
        self.cpu.append(smp.cpu_total())
        self.peak_rss = max(self.peak_rss, smp.peak_total)
        for r in procstat.ROLES:
            self.peak_role[r] = max(self.peak_role.get(r, 0), smp.peak[r])
            self.cpu_role.setdefault(r, []).append(smp.cpu(r))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_loop(ctx: Ctx, unit, min_units: int = 1) -> None:
    """Run ``unit()`` (returns its timed seconds) until ctx.seconds of timed
    work and ``min_units`` units are done, never starting one past the
    deadline."""
    spent, done = 0.0, 0
    while True:
        dt = unit()
        spent += dt
        done += 1
        print(f"perfbench: unit {done}: {dt:.3f} s", file=sys.stderr)
        if (spent >= ctx.seconds and done >= min_units) or time.perf_counter() > ctx.deadline:
            return


def _spark_counts(tr: Tracer, res: Result, units: int) -> None:
    for layer in LAYERS:
        spans = [s for s in tr.spans if s["name"].split(".")[0] == layer]
        for k in ("jobs", "stages", "tasks"):
            res.layer[f"spark.{k}.{layer}"] = sum(s[k] for s in spans) / max(units, 1)


# ------------------------------------------------------------- copy_load


def copy_load(ctx: Ctx, res: Result) -> None:
    from gcs2postgres_spark.reconcile import reconcile_to_target
    from gcs2postgres_spark.sinks import write_jdbc_copy
    from gcs2postgres_spark.sources.readers import read_source

    spark = ctx.spark
    fx = fixtures.cached(ctx.cache, "copy_load", ctx.seed, fixtures.build_copy_load)
    res.layer["fixtures.gen_s"] = fx.gen_s
    path = os.path.join(fx.path, fx.meta["file"])
    target = [tuple(c) for c in fx.meta["target"]]
    columns = [c for c, _ in target]
    server = pgserver.ServerProcess(ctx.cache)
    ctx.exclude.add(server.proc.pid)
    try:

        def unit(tr: Tracer, keep: bool = True) -> float:
            server.reset()
            with procstat.Sampler(os.getpid(), ctx.exclude) as smp:
                with tr.span("unit.copy_load") as top:
                    with tr.span("sources.read_source"):
                        df = read_source(spark, path)
                    with tr.span("reconcile.reconcile_to_target"):
                        out = reconcile_to_target(df, target)
                    with tr.span("sinks.write_jdbc_copy") as sink:
                        write_jdbc_copy(out, server.dsn, "lineitem", columns,
                                        connect_factory=pgserver.connect)
            st = server.stats(target)
            res.check(st["rows"] == fx.meta["rows"] and st["digest"] == fx.meta["digest"],
                      f"copy_load: sink rows/digest {st['rows']}/{st['digest']} != "
                      f"{fx.meta['rows']}/{fx.meta['digest']}")
            if keep:
                res.walls.append(top["dur"])
                res.rows.append(st["rows"])
                res.add_sample(smp)
            sink["server"] = st
            return top["dur"]

        if not ctx.trace:
            _timed_loop(ctx, lambda: unit(Tracer(spark, "untraced", False)), MIN_UNITS["copy_load"])
            return

        tr = Tracer(spark, f"copy_load-{ctx.seed}", True)
        unit(Tracer(spark, "warmup", False), keep=False)
        untraced = unit(Tracer(spark, "untraced", False))
        traced = unit(tr)
        res.layer["trace.overhead_s"] = traced - untraced
        sink = next(s for s in tr.spans if s["name"] == "sinks.write_jdbc_copy")
        st = sink["server"]
        res.layer["sinks.copy_s"] = sink["dur"]
        res.layer["sinks.copy_bytes_per_row"] = st["bytes"] / max(st["rows"], 1)
        res.layer["sinks.copy_conns"] = st["copy_conns"]
        res.layer["sinks.copy_first_byte_s"] = st["first_byte"] - _mono_at(sink["start"])
        res.layer["sinks.copy_server_busy_ratio"] = st["busy_s"] / sink["dur"]
        res.layer["sources.plan_s.parquet"] = tr.total("sources.read_source")
        _spark_counts(tr, res, 1)
        # decomposition: scan alone, then reconciled minus raw; three
        # alternating pairs, medians of each side
        raws, casts = [], []
        for i in range(3):
            for kind in (("raw", "cast") if i % 2 == 0 else ("cast", "raw")):
                with tr.span(f"decomp.{kind}.parquet") as sp:
                    df = read_source(spark, path)
                    _noop(df if kind == "raw" else reconcile_to_target(df, target))
                (raws if kind == "raw" else casts).append(sp)
        scan = statistics.median(s["dur"] for s in raws)
        res.layer["sources.scan_s.parquet"] = scan
        res.layer["sources.tasks.parquet"] = raws[0]["tasks"]
        res.layer["reconcile.cast_s"] = statistics.median(s["dur"] for s in casts) - scan
        tr.dump(os.path.join(ctx.cache, f"trace-copy_load-{ctx.seed}.json"))
    finally:
        server.close()


def _mono_at(perf: float) -> float:
    """Convert a perf_counter() reading to time.monotonic() (the server's
    clock): both are CLOCK_MONOTONIC on Linux, so this is the identity
    there; the offset keeps it correct where they differ."""
    return perf + (time.monotonic() - time.perf_counter())


# ---------------------------------------------------------- table_fanout


def _read_sink(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table()


def table_fanout(ctx: Ctx, res: Result) -> None:
    import duckdb

    from gcs2postgres_spark.config import Config, FileSpec, GCSConfig
    from gcs2postgres_spark.pipeline import transfer_all, transfer_file
    from gcs2postgres_spark.reconcile import reconcile_to_target
    from gcs2postgres_spark.sinks import write_parquet
    from gcs2postgres_spark.sources.readers import read_source

    spark = ctx.spark
    fx = fixtures.cached(ctx.cache, "table_fanout", ctx.seed, fixtures.build_table_fanout)
    res.layer["fixtures.gen_s"] = fx.gen_s
    tables = fx.meta["tables"]
    targets = {t: [tuple(c) for c in v["target"]] for t, v in tables.items()}
    srcs = {t: os.path.join(fx.path, v["path"]) for t, v in tables.items()}
    cfg = Config(gcs=GCSConfig(
        concurrent_jobs=min(4, os.cpu_count() or 4),
        files=[FileSpec(srcs[t], t) for t in tables],
    ))
    sink_dir = os.path.join(ctx.cache, "sink", "table_fanout")
    con = duckdb.connect()
    try:

        def check_sink() -> None:
            for t, v in tables.items():
                got = digest_table(canonicalize(_read_sink(os.path.join(sink_dir, t)), targets[t]), con)
                res.check(got == (v["rows"], v["digest"]),
                          f"table_fanout: {t} sink rows/digest {got} != {(v['rows'], v['digest'])}")

        def unit(tr: Tracer, keep: bool = True) -> float:
            with procstat.Sampler(os.getpid(), ctx.exclude) as smp:
                with tr.span("pipeline.transfer_all", ungrouped=True) as top:
                    results = transfer_all(spark, cfg, targets, sink_dir)
            for r in results:
                res.check(r.ok and r.rows == tables[r.table]["rows"],
                          f"table_fanout: {r.table} ok={r.ok} rows={r.rows} error={r.error}")
            check_sink()
            if keep:
                res.walls.append(top["dur"])
                res.rows.append(sum(r.rows for r in results if r.ok))
                res.add_sample(smp)
            return top["dur"]

        if not ctx.trace:
            _timed_loop(ctx, lambda: unit(Tracer(spark, "untraced", False)), MIN_UNITS["table_fanout"])
            return

        tr = Tracer(spark, f"table_fanout-{ctx.seed}", True)
        unit(Tracer(spark, "warmup", False), keep=False)
        untraced = unit(Tracer(spark, "untraced", False))
        traced = unit(tr)
        res.layer["trace.overhead_s"] = traced - untraced
        _spark_counts(tr, res, 1)
        # decomposition, one table at a time on the driver thread
        serial = 0.0
        recount = 0.0
        parquet_s = 0.0
        for t, v in tables.items():
            fmt = v["format"]
            with tr.span(f"decomp.plan.{fmt}") as plan:
                df = read_source(spark, srcs[t])
            with tr.span(f"decomp.scan.{fmt}") as scan:
                _noop(df)
            key = f"sources.plan_s.{fmt}"
            res.layer[key] = res.layer.get(key, 0.0) + plan["dur"]
            key = f"sources.scan_s.{fmt}"
            res.layer[key] = res.layer.get(key, 0.0) + scan["dur"]
            key = f"sources.tasks.{fmt}"
            res.layer[key] = res.layer.get(key, 0) + scan["tasks"]
            out_dir = os.path.join(ctx.cache, "sink", "decomp")
            with tr.span(f"decomp.parquet.{t}") as pw:
                write_parquet(reconcile_to_target(read_source(spark, srcs[t]), targets[t]),
                              os.path.join(out_dir, t), mode="overwrite")
            with tr.span(f"decomp.transfer_file.{t}") as tf:
                r = transfer_file(spark, srcs[t], t, targets[t], out_dir)
            res.check(r.ok and r.rows == v["rows"], f"table_fanout: transfer_file {t} {r}")
            res.layer[f"pipeline.transfer_s.{t}"] = tf["dur"]
            serial += tf["dur"]
            parquet_s += pw["dur"]
            recount += tf["dur"] - pw["dur"]
        res.layer["sinks.parquet_s"] = parquet_s
        res.layer["pipeline.recount_s"] = recount
        res.layer["pipeline.overlap"] = serial / traced
        tr.dump(os.path.join(ctx.cache, f"trace-table_fanout-{ctx.seed}.json"))
    finally:
        con.close()


# -------------------------------------------------------- analytic_suite


def _norm(v):
    import datetime as _dt

    if isinstance(v, float):
        return round(v, 6) if math.isfinite(v) else v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy / Decimal-like scalars
        return _norm(v.item())
    return v


def _sorted_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def oracle_mismatch(s_cols, s_rows, d_cols, d_rows, rel_tol: float = 1e-5) -> str | None:
    """None when Spark's rows equal DuckDB's up to row order, column order
    and float tolerance; otherwise a short description."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != {len(d_rows)}"
    for i, (sr, dr) in enumerate(zip(_sorted_rows(s_cols, s_rows), _sorted_rows(d_cols, d_rows))):
        for sv, dv in zip(sr, dr):
            if isinstance(sv, float) and isinstance(dv, float):
                if not math.isclose(sv, dv, rel_tol=rel_tol, abs_tol=1e-6):
                    return f"row {i}: {sv!r} != {dv!r}"
            elif sv != dv:
                return f"row {i}: {sv!r} != {dv!r}"
    return None


def analytic_suite(ctx: Ctx, res: Result) -> None:
    import duckdb

    from gcs2postgres_spark.catalog import TABLES, load_table
    from gcs2postgres_spark.operators.caching import release_transient_caches
    from gcs2postgres_spark.queries import REGISTRY
    from gcs2postgres_spark.session import tune_local_fast

    spark = ctx.spark
    fx = fixtures.cached(ctx.cache, "analytic_suite", ctx.seed, fixtures.build_analytic)
    res.layer["fixtures.gen_s"] = fx.gen_s
    sf = fx.path
    tune_local_fast(spark, sf)
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    tr = Tracer(spark, f"analytic_suite-{ctx.seed}", ctx.trace)
    if ctx.trace:
        with tr.span("catalog.load_table") as cat:
            for t in TABLES:
                load_table(spark, sf, t)
        res.layer["catalog.load_s"] = cat["dur"]

    # correctness pass, which is also the JIT warm-up: collect every query
    # and compare with its DuckDB oracle, outside the timed window
    con = duckdb.connect()
    con.sql(f"SET threads TO {min(4, os.cpu_count() or 4)}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
    for n in order:
        q = REGISTRY[n]
        try:
            sdf = q.fn(spark, sf)
            s_rows = sdf.collect()
            d = con.sql(q.oracle)
            bad = oracle_mismatch(list(sdf.columns), s_rows, list(d.columns), d.fetchall())
        except Exception as e:  # a failing query is counted, the suite goes on
            bad = f"{type(e).__name__}: {e}"
        release_transient_caches()
        spark.catalog.clearCache()
        res.check(bad is None, f"analytic_suite: {n}: {bad}")
    con.close()

    samples: dict[str, list[float]] = {n: [] for n in QUERIES}

    def run_query(n: str, t: Tracer) -> float:
        with t.span(f"queries.{n}") as sp:
            with t.span("queries.plan"):
                df = REGISTRY[n].fn(spark, sf)
            _noop(df)
        release_transient_caches()
        spark.catalog.clearCache()
        samples[n].append(sp["dur"])
        return sp["dur"]

    def one_pass(t: Tracer) -> float:
        with procstat.Sampler(os.getpid(), ctx.exclude) as smp:
            total = sum(run_query(n, t) for n in order)
        res.add_sample(smp)
        return total

    if not ctx.trace:
        _timed_loop(ctx, lambda: one_pass(tr), MIN_UNITS["analytic_suite"])
    else:
        # two passes; each query runs untraced and traced, order alternating
        off = Tracer(spark, "untraced", False)
        t_on = t_off = 0.0
        pass_means: list[dict[str, float]] = []
        for p in range(2):
            before = {n: len(samples[n]) for n in QUERIES}
            with procstat.Sampler(os.getpid(), ctx.exclude) as smp:
                for i, n in enumerate(order):
                    pair = (off, tr) if (i + p) % 2 == 0 else (tr, off)
                    for t in pair:
                        d = run_query(n, t)
                        if t is tr:
                            t_on += d
                        else:
                            t_off += d
            res.add_sample(smp)
            pass_means.append({n: statistics.fmean(samples[n][before[n]:]) for n in QUERIES})
        res.layer["trace.overhead_s"] = (t_on - t_off) / 2
        plans = [s["dur"] for s in tr.spans if s["name"] == "queries.plan"]
        res.layer["queries.plan_s"] = sum(plans) / 2
        for n in QUERIES:
            res.layer[f"queries.drift.{n}"] = pass_means[1][n] / pass_means[0][n]
        _spark_counts(tr, res, 2)
        tr.dump(os.path.join(ctx.cache, f"trace-analytic_suite-{ctx.seed}.json"))

    med = {n: statistics.median(samples[n]) for n in QUERIES}
    res.wall_s = sum(med.values())
    res.walls = [res.wall_s]
    rows_in = sum(fx.meta["rows"].values())
    # fixed input size per query over time per query (see NOTES.md)
    res.rows_per_s = rows_in * len(QUERIES) / res.wall_s
    if ctx.trace:
        for n in QUERIES:
            res.layer[f"queries.{n}_s"] = med[n]
        for fam, qs in SUITE.items():
            res.layer[f"queries.family.{fam}_s"] = sum(med[q] for q in qs)
