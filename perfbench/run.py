#!/usr/bin/env python3
"""The repository benchmark for broadway_kinesis_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_efo --seed 1 --seconds 20 --trace 0

Workloads:

- ``ingest_efo`` (``ingest.py``): the ``kinesis_efo`` source on its
  enhanced-fan-out path into a parquet sink: a drain phase over a
  pre-written backlog, then an open-loop phase at a fixed rate;
- ``analytics_sf0.1`` (``analytics.py``): a fixed mix of registered batch
  queries over seeded synthetic sf0.1 tables, one cold pass then warm
  passes, closed loop with one client.

End-to-end metrics, the same names on every workload (see NOTES.md for the
definitions per workload): ``setup_s``, ``peak_pss_mb``, ``cold_s``,
``work_s``, ``latency_p50_ms``, ``latency_p99_ms``. ``--trace 1`` makes a
separate traced run that reports the per-layer metrics instead.

Inputs depend only on ``--seed``. Outputs are checked outside the timed
region; ``failed`` counts every wrong or missing result. A run whose load
generator fell behind, or whose backlog grew, exits 3 without a result. All
files go to ``.perfbench_work/`` in the checkout; a traced run leaves its
spans there as ``trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0  # every run ends well inside 180 s

END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "cold_s": "s",
    "work_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
}


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def prepare_env(work: str, driver_mem: str) -> dict:
    """Keep every process's files inside the checkout; record provenance."""
    nproc = len(os.sched_getaffinity(0))
    before = os.environ.get("SPARK_GRAFT_CPUS")
    mem_before = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)  # local[nproc]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Spark's Python workers import the program and perfbench.* by name
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{pp}" if pp else ROOT
    return {
        "nproc": nproc,
        "spark_graft_cpus": nproc,
        "spark_graft_cpus_env_before": before,
        "spark_graft_driver_mem": driver_mem,
        "spark_graft_driver_mem_env_before": mem_before,
        "loadavg_start": os.getloadavg()[0],
        "cpu_ticks_start": cpu_ticks(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Benchmark for broadway_kinesis_spark.")
    ap.add_argument("--workload", required=True, choices=("ingest_efo", "analytics_sf0.1"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured phases")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "broadway_kinesis_spark", "registry.py")):
        print("perfbench: the broadway_kinesis_spark package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import analytics, ingest
    from perfbench.common import Context, RunInvalid, SparkRun, wait_proc

    workload = ingest if args.workload == "ingest_efo" else analytics
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        ctx = Context(
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            t_start=T_START,
            deadline=T_START + DEADLINE_S,
        )
        ctx.prov = prepare_env(work, workload.DRIVER_MEM)
        inputs = workload.start_inputs(ctx)  # written while the JVM starts
        spark_run = SparkRun(ctx.prov["nproc"])
        try:
            with spark_run as spark:
                ctx.prov["session_s"] = time.time() - T_START
                for name, proc in inputs:
                    wait_proc(proc, 60, f"input generator ({name})")
                result = workload.measure(ctx, spark)
        finally:
            for _name, proc in inputs:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        ctx.prov["loadavg_end"] = os.getloadavg()[0]
        # share of CPU time the hypervisor gave to other guests during the run
        delta = [b - a for a, b in zip(ctx.prov.pop("cpu_ticks_start"), cpu_ticks())]
        ctx.prov["steal_share"] = delta[7] / max(sum(delta), 1)
    except RunInvalid as exc:
        print(f"perfbench: invalid run: {exc}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = {**ingest.PER_LAYER, **analytics.PER_LAYER, "trace.overhead_ratio": "ratio"}
        values = dict.fromkeys(units, 0.0) | result.metrics  # layers this workload skips read 0
        path = os.path.join(WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"provenance": ctx.prov, "metrics": values, "spans": result.spans}, f)
    else:
        units = END_TO_END
        values = {"setup_s": ctx.setup_s, "peak_pss_mb": spark_run.peak_pss_mb, **result.metrics}
    summary = {"workload": args.workload, "seed": args.seed, **result.summary, **ctx.prov, "run_s": time.time() - T_START}
    print("perfbench:", json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
