"""Helpers shared by the benchmark's workloads."""

from __future__ import annotations

import os
import subprocess
import threading
from dataclasses import dataclass, field


class RunInvalid(Exception):
    """The run did not meet the conditions its figures assume."""


@dataclass
class Context:
    """One benchmark run: its arguments, working directory and deadline."""

    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout, removed after the run
    t_start: float  # wall-clock time the process started
    deadline: float  # wall-clock time by which every wait must be over
    setup_s: float = 0.0  # set by the workload when its first timed operation starts
    prov: dict = field(default_factory=dict)  # provenance, printed with the result


@dataclass
class Result:
    """What a workload measured. ``metrics`` holds the end-to-end metrics
    (untraced run) or the per-layer metrics (traced run)."""

    attempted: int
    failed: int
    metrics: dict
    summary: dict = field(default_factory=dict)
    spans: list | None = None


def percentile(values, q: float) -> float:
    import numpy as np

    if not len(values):
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


def wait_proc(proc: subprocess.Popen, timeout: float, what: str) -> None:
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"{what} did not finish within {timeout:.0f} s") from None
    if code != 0:
        raise RuntimeError(f"{what} exited with code {code}")


class MemorySampler:
    """Peak summed PSS of a process and every process below it (the driver
    JVM and its Python workers). PSS, not RSS: forked Python workers share
    most of their pages with the daemon they fork from, and summed RSS
    would count those pages once per worker alive at the sample."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root = root_pid
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_pss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                pass  # the process ended between the listing and the read
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, self._tree_pss())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak_kib / 1024


class SparkRun:
    """The run's Spark session, with memory sampling, torn down completely on
    exit: session stopped, JVM gateway closed, JVM process reaped."""

    def __init__(self, cores: int):
        self.cores = cores
        self.peak_pss_mb = 0.0

    def __enter__(self):
        from broadway_kinesis_spark.session import build_session

        # one shuffle partition per core: the session's default of 32 is
        # sized for a 32-core host and multiplies per-task overhead here
        self.spark = build_session("perfbench", shuffle_partitions=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.memory = MemorySampler(self.jvm.pid)
        self.memory.start()
        return self.spark

    def __exit__(self, *exc) -> None:
        self.peak_pss_mb = self.memory.stop()
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            self.jvm.stdin.close()  # the JVM exits when its stdin closes
            self.jvm.wait(timeout=60)
