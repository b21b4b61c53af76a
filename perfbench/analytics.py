"""``analytics_sf0.1``: a fixed mix of registered batch queries, closed loop.

One client runs the mix back to back through ``registry.queries()`` on
seeded synthetic sf0.1 tables (``tables.py``, written while the Spark
session starts): one cold pass, which pays driver-side planning and code
generation once per query shape, then ``--seconds`` / ``WARM_PASS_S`` warm
passes (at least ``MIN_WARM_PASSES``). Each execution is the registry call
that returns a DataFrame plus ``collect()``.

Every execution's rows are compared, outside the timed region, with the
query's ``registry.oracle_sql()`` run in DuckDB over the same parquet,
under the registry's hash contract: column names sorted, rows compared as
an unordered multiset, every cell equal in value and in type (int, float,
string, ...), floats bit for bit.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from decimal import Decimal

from perfbench.common import Context, Result, percentile

#: the mix, in execution order
MIX = (
    "pricing_summary",
    "join_inner",
    "agg_rollup",
    "window_topk_per_group",
    "asof_join",
    "text_token_stats",
    "dedup_url_canonical",
    "similarity_topk_cosine",
    "cdc_merge_upsert",
)
MIN_WARM_PASSES = 2
#: nominal warm-pass length on a 4-core host. The pass count follows from
#: ``--seconds`` alone: counting passes until a deadline would give a slow
#: run fewer, earlier (less warmed-up) passes and widen the spread
WARM_PASS_S = 6.5
#: driver heap: with 1 GB the cold pass ran about 20% slower on these tables
DRIVER_MEM = "2g"
TABLES_SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables.py")
PER_LAYER = {
    f"analytics.{q}.{m}": unit
    for q in MIX
    for m, unit in (
        ("build_ms", "ms"),
        ("cold_ms", "ms"),
        ("collect_ms.p50", "ms"),
        ("spark_jobs", "count"),
        ("tasks", "count"),
    )
}


def _sf_dir(ctx: Context) -> str:
    return os.path.join(ctx.work, "sf0.1")


def start_inputs(ctx: Context) -> list[tuple[str, subprocess.Popen]]:
    """Write the tables while the Spark session starts."""
    cmd = [sys.executable, TABLES_SCRIPT, "--dir", _sf_dir(ctx), "--seed", str(ctx.seed)]
    return [("tables", subprocess.Popen(cmd))]


class _JobCounter:
    """Spark jobs and tasks of one labelled execution, from the status tracker."""

    def __init__(self, sc):
        self.sc = sc

    def label(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def count(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = tracker.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


def _run_pass(spark, ctx: Context, queries, tag: str, counter: _JobCounter | None) -> list[dict]:
    sf = _sf_dir(ctx)
    out = []
    for name in MIX:
        group = f"perfbench-{tag}-{name}"
        if counter:
            counter.label(group)
        rec = {"name": name}
        t0 = time.time()
        try:
            df = queries[name](spark, sf)
            t1 = time.time()
            rows = df.collect()
            t2 = time.time()
        except Exception:  # a failing query is counted, the pass goes on
            rec["error"] = traceback.format_exc()
            out.append(rec)
            continue
        rec.update(build_ms=(t1 - t0) * 1e3, total_ms=(t2 - t0) * 1e3, columns=df.columns, rows=rows)
        if counter:
            rec["jobs"], rec["tasks"] = counter.count(group)
        out.append(rec)
    return out


def _cell(v):
    """(type category, value) so that int 5 and float 5.0 differ, as they
    do under a typed value hash; NaN equals NaN."""
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else v)
    if isinstance(v, Decimal):
        return ("decimal", v)
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_cell(x) for x in v))
    return (type(v).__name__, v)


def _canon(columns: list[str], rows) -> Counter:
    """Rows as a multiset of typed cells, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_cell(row[i]) for i in order) for row in rows)


def _oracle_results(sf_dir: str) -> dict[str, tuple[list[str], Counter]]:
    import duckdb

    from broadway_kinesis_spark import registry
    from broadway_kinesis_spark.session import TABLES

    sqls = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in MIX:
            cur = con.execute(sqls[name])
            cols = [d[0] for d in cur.description]
            out[name] = (sorted(cols), _canon(cols, cur.fetchall()))
        return out
    finally:
        con.close()


def measure(ctx: Context, spark) -> Result:
    from broadway_kinesis_spark import registry

    queries = registry.queries()
    counter = _JobCounter(spark.sparkContext) if ctx.trace else None
    # The JVM's first query pays class loading and JIT once per process,
    # not once per query shape: spend it in set-up on a query outside the
    # mix, so the cold pass measures the per-shape planning and codegen.
    spark.read.parquet(os.path.join(_sf_dir(ctx), "nation.parquet")).selectExpr("sum(n_nationkey)").collect()
    ctx.setup_s = time.time() - ctx.t_start

    t0 = time.time()
    cold = _run_pass(spark, ctx, queries, "cold", counter)
    cold_s = time.time() - t0
    warm, pass_s = [], []
    for _ in range(max(MIN_WARM_PASSES, round(ctx.seconds / WARM_PASS_S))):
        t0 = time.time()
        warm.append(_run_pass(spark, ctx, queries, f"warm{len(warm)}", counter))
        pass_s.append(time.time() - t0)
    overhead_ratio = 1.0
    if ctx.trace:  # one more pass without job labels prices the tracing
        t0 = time.time()
        _run_pass(spark, ctx, queries, "untraced", None)
        overhead_ratio = statistics.median(pass_s) / (time.time() - t0)

    # checks, outside the timed region
    t0 = time.time()
    oracle = _oracle_results(_sf_dir(ctx))
    executions = [rec for p in [cold, *warm] for rec in p]
    failed = 0
    for rec in executions:
        if "error" in rec:
            failed += 1
            print(f"perfbench: {rec['name']} raised {rec['error']}", file=sys.stderr)
            continue
        cols, rows = oracle[rec["name"]]
        if sorted(rec["columns"]) != cols or _canon(rec["columns"], rec["rows"]) != rows:
            failed += 1
            print(f"perfbench: {rec['name']} does not match its oracle", file=sys.stderr)
    ctx.prov["check_s"] = time.time() - t0

    lat = [rec["total_ms"] for p in warm for rec in p if "error" not in rec]
    query_ms = {}  # per query, median warm execution time
    for name in MIX:
        ms = [r["total_ms"] for p in warm for r in p if r["name"] == name and "error" not in r]
        if ms:
            query_ms[name] = statistics.median(ms)
    summary = {
        "analytics_pass_s": statistics.median(pass_s),
        "analytics_cold_pass_s": cold_s,
        "analytics_failed_ratio": failed / len(executions),
        "warm_pass_s": pass_s,
        "query_ms_p50": query_ms,
    }
    if not ctx.trace:
        metrics = {
            "cold_s": cold_s,
            "work_s": statistics.median(pass_s),
            # every query weighs the same, whatever its rank in the mix
            "latency_p50_ms": statistics.geometric_mean(query_ms.values()) if query_ms else 0.0,
            "latency_p99_ms": percentile(lat, 99),
        }
        return Result(len(executions), failed, metrics, summary)

    metrics = {"trace.overhead_ratio": overhead_ratio}
    spans = []
    for tag, recs in [("cold", cold)] + [(f"warm{i}", p) for i, p in enumerate(warm)]:
        for rec in recs:
            if "error" not in rec:
                spans.append({k: rec[k] for k in ("name", "build_ms", "total_ms", "jobs", "tasks")} | {"pass": tag})
    for name in MIX:
        c = next((r for r in cold if r["name"] == name and "error" not in r), None)
        w = [r for p in warm for r in p if r["name"] == name and "error" not in r]
        metrics[f"analytics.{name}.build_ms"] = c["build_ms"] if c else 0.0
        metrics[f"analytics.{name}.cold_ms"] = c["total_ms"] if c else 0.0
        metrics[f"analytics.{name}.collect_ms.p50"] = percentile([r["total_ms"] - r["build_ms"] for r in w], 50)
        metrics[f"analytics.{name}.spark_jobs"] = percentile([r["jobs"] for r in w], 50)
        metrics[f"analytics.{name}.tasks"] = percentile([r["tasks"] for r in w], 50)
    return Result(len(executions), failed, metrics, summary, spans)
