"""``ingest_efo``: the ``kinesis_efo`` source on its enhanced-fan-out path.

4 shards of ~1 KB JSON payloads, ``consumerArn`` set (executors read over
``subscribe_to_shard``), ``maxRecordsPerBatch`` 2500 per shard, a
``processingTime`` trigger, and a ``foreachBatch`` sink that appends each
micro-batch with ``sources.sinks.write_parquet``.

Phases, each its own streaming query on its own fake stream:

1. set-up: the backlogs are written by ``generator.py`` while the Spark
   session starts;
2. cold: the first micro-batch of the process, a full batch on a warm-up
   stream;
3. work: draining a pre-written 40,000-record backlog;
4. open loop: the generator, a separate process, appends 2,000 records/s
   (below the drain rate) to the same stream; each record's latency runs
   from its due time to the return of the sink call that committed it.

The record of each committed micro-batch (its per-shard end offsets) maps
every generated record to the batch, and so the commit time, that carried
it. After the query stops, the parquet output is checked: every generated
``(shard_id, sequence_number)`` delivered exactly once, in per-shard order,
with its payload's CRC-32 intact.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import zlib

from perfbench.common import Context, Result, RunInvalid, percentile, wait_proc
from perfbench.generator import SEQ_BASE, SHARDS, shard_id

MAX_PER_SHARD = 2500  # maxRecordsPerBatch; the source applies it per shard
WARMUP = 10000  # one full micro-batch
BACKLOG = 40000
RATE = 2000.0  # open-loop records/s, below the ~5,000/s drain rate
TRIGGER_S = 0.25
TRIGGER = f"{int(TRIGGER_S * 1000)} milliseconds"
#: driver heap: streaming batches need little, and a small heap keeps the
#: JVM's share of ``peak_pss_mb`` from following GC timing run to run
DRIVER_MEM = "1g"
#: a generator whose 99th-percentile lateness exceeds this ran behind schedule
MAX_GENERATOR_LATE_MS = 100.0
#: open-loop batches may grow this much before the backlog counts as growing
MAX_BATCH_GROWTH = 1.5

GENERATOR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py")
SDK_CALLS = ("list_shards", "get_shard_iterator", "get_records", "subscribe_to_shard")
PER_LAYER = {
    "efo.latest_offset_ms.p50": "ms",
    "efo.read_ms.p50": "ms",
    "efo.fetch_amplification": "ratio",
    **{f"efo.sdk_calls_per_batch.{c}": "count" for c in SDK_CALLS},
    "microbatch.trigger_ms.p50": "ms",
    "microbatch.plan_ms.p50": "ms",
    "microbatch.log_commit_ms.p50": "ms",
    "microbatch.records_per_batch.p50": "count",
    "microbatch.batches": "count",
    "sink.write_ms.p50": "ms",
    "fake_kinesis.busy_share": "ratio",
    "generator.late_ms.p99": "ms",
    "generator.backlog_end_records": "count",
}


def _generator(ctx: Context, stream: str, log: str, **mode) -> subprocess.Popen:
    args = [
        sys.executable, GENERATOR,
        "--dir", os.path.join(ctx.work, f"stream-{stream}"),
        "--seed", str(ctx.seed),
        "--log", os.path.join(ctx.work, f"{log}.json"),
    ]
    for k, v in mode.items():
        args += [f"--{k}", repr(v) if isinstance(v, float) else str(v)]
    return subprocess.Popen(args)


def _read_log(ctx: Context, log: str) -> dict:
    with open(os.path.join(ctx.work, f"{log}.json"), encoding="utf-8") as f:
        return json.load(f)


class Progress:
    """Progress of the micro-batches that read data, per query id."""

    def __init__(self):
        self.lock = threading.Lock()
        self.by_query: dict[str, dict[int, object]] = {}

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    with progress.lock:
                        progress.by_query.setdefault(str(p.id), {})[p.batchId] = p

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def batches(self, query_id: str) -> list:
        with self.lock:
            got = dict(self.by_query.get(query_id, {}))
        return [got[b] for b in sorted(got)]


class Stream:
    """One streaming query from a fake stream into the parquet sink."""

    def __init__(self, spark, ctx: Context, name: str, progress: Progress, fmt: str = "kinesis_efo", **extra):
        from pyspark.sql import functions as F

        from broadway_kinesis_spark.sources import sinks

        self.out = os.path.join(ctx.work, f"out-{name}")
        self.progress = progress
        self.commits: dict[int, float] = {}
        reader = (
            spark.readStream.format(fmt)
            .option("streamName", name)
            .option("clientFactory", "perfbench.fake_kinesis:factory")
            .option("fakeDataDir", os.path.join(ctx.work, f"stream-{name}"))
            .option("consumerArn", f"arn:aws:kinesis:us-east-1:000000000000:stream/{name}/consumer/perfbench:1")
            .option("startingPosition", "trim_horizon")
            .option("maxRecordsPerBatch", str(MAX_PER_SHARD))
            .option("reconnectDelayMs", "1")
        )
        for k, v in extra.items():
            reader = reader.option(k, v)
        out, commits = self.out, self.commits

        def sink(batch_df, batch_id):
            # batch_id and read position let the check verify per-shard order
            sinks.write_parquet(
                batch_df.withColumn("batch_id", F.lit(batch_id)).withColumn(
                    "pos", F.monotonically_increasing_id()
                ),
                out,
                mode="append",
            )
            commits[batch_id] = time.time()

        self.writer = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(ctx.work, f"ck-{name}"))
            .trigger(processingTime=TRIGGER)
        )
        self.query = None

    def start(self) -> float:
        t0 = time.time()
        self.query = self.writer.start()
        self.id = str(self.query.id)
        return t0

    def batches(self) -> list:
        return [p for p in self.progress.batches(self.id) if p.batchId in self.commits]

    def committed(self, n: int) -> int:
        """How many of records ``0 .. n-1`` the committed batches carried."""
        ends: dict[str, int] = {}
        for p in self.batches():
            for shard, seq in _offsets(p.sources[0].endOffset).items():
                ends[shard] = max(ends.get(shard, seq), seq)
        return sum(1 for i in range(n) if SEQ_BASE + i <= ends.get(shard_id(i), -1))

    def wait_committed(self, n: int, deadline: float) -> float:
        """Block until the committed end offsets cover records ``0 .. n-1``
        on every shard; return the time that commit's sink call returned.
        Offsets, not row counts: a source that drops or repeats rows must
        still end the wait, so the output check can count what went wrong."""
        last = {shard_id(i): SEQ_BASE + i for i in range(max(n - SHARDS, 0), n)}
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            ends: dict[str, int] = {}
            for p in self.batches():
                for shard, seq in _offsets(p.sources[0].endOffset).items():
                    ends[shard] = max(ends.get(shard, seq), seq)
                if all(ends.get(shard, -1) >= seq for shard, seq in last.items()):
                    return self.commits[p.batchId]
            if time.time() > deadline:
                raise RuntimeError(f"records 0..{n - 1} not committed before the deadline")
            time.sleep(0.05)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


def _offsets(raw: str | None) -> dict[str, int]:
    out = {}
    for shard, ent in (json.loads(raw) if raw else {}).items():
        seq = ent.get("seq") if isinstance(ent, dict) else ent
        if seq is not None:
            out[shard] = int(seq)
    return out


def commit_times(stream: Stream, log: dict) -> list[float | None]:
    """Per generated record (in log order), when the batch holding it committed."""
    per_shard: dict[str, tuple[list[int], list[float]]] = {}
    for p in stream.batches():
        t = stream.commits[p.batchId]
        for shard, seq in _offsets(p.sources[0].endOffset).items():
            ends, times = per_shard.setdefault(shard, ([], []))
            if not ends or seq > ends[-1]:
                ends.append(seq)
                times.append(t)
    out: list[float | None] = []
    for i in log["i"]:
        ends, times = per_shard.get(shard_id(i), ([], []))
        k = bisect.bisect_left(ends, SEQ_BASE + i)
        out.append(times[k] if k < len(times) else None)
    return out


def check_backlog(ctx: Context, batches: list, backlog_end: int) -> None:
    """Raise ``RunInvalid`` if the backlog grew during the open loop.

    A source that keeps up takes everything written before a trigger's
    ``latestOffset`` call, so when the generator stops, the records not yet
    committed are at most those written during the last committed trigger,
    the wait for the next one and that next trigger: ``RATE`` x (2 x trigger
    + interval). A source that falls behind leaves more, and its batches
    grow as each trigger takes what piled up during the one before. So,
    with the first half of the open-loop batches as the steady state, a run
    is invalid if the second half's median batch holds more than
    ``MAX_BATCH_GROWTH`` times the first half's, if ``backlog_end`` exceeds
    ``MAX_BATCH_GROWTH`` times what the first half's longest trigger can
    leave pending, or if any batch hit ``maxRecordsPerBatch``."""
    if len(batches) < 4:
        raise RunInvalid(f"only {len(batches)} open-loop micro-batches, too few to judge the backlog")
    half = len(batches) // 2
    rows = [p.numInputRows for p in batches]
    growth = statistics.median(rows[half:]) / statistics.median(rows[:half])
    trigger_s = max(p.durationMs.get("triggerExecution", 0) for p in batches[:half]) / 1e3
    allowance = RATE * (2 * trigger_s + TRIGGER_S) * MAX_BATCH_GROWTH
    ctx.prov.update(open_batch_growth=growth, backlog_allowance_records=allowance)
    if growth > MAX_BATCH_GROWTH:
        raise RunInvalid(f"open-loop batches grew {growth:.2f}x from the first half to the second")
    if backlog_end > allowance:
        raise RunInvalid(f"{backlog_end} records pending when the generator stopped, over {allowance:.0f}")
    for p in batches:
        starts = _offsets(p.sources[0].startOffset)
        for shard, end in _offsets(p.sources[0].endOffset).items():
            if shard in starts and (end - starts[shard]) // SHARDS >= MAX_PER_SHARD:
                raise RunInvalid(f"open-loop batch {p.batchId} hit maxRecordsPerBatch on {shard}")


def check_output(out_dir: str, logs: list[dict]) -> int:
    """Failures: records lost, duplicated, reordered within a shard, or corrupted."""
    import pyarrow.parquet as pq

    expected = {}
    for log in logs:
        for i, crc in zip(log["i"], log["crc"]):
            expected[(shard_id(i), SEQ_BASE + i)] = crc
    cols = pq.read_table(
        out_dir, columns=["shard_id", "sequence_number", "data", "batch_id", "pos"]
    ).to_pydict()
    seen: dict[tuple[str, int], int] = {}
    by_shard: dict[str, list[tuple[int, int, int]]] = {}
    failed = 0
    for shard, seq, data, batch, pos in zip(
        cols["shard_id"], cols["sequence_number"], cols["data"], cols["batch_id"], cols["pos"]
    ):
        key = (shard, int(seq))
        seen[key] = seen.get(key, 0) + 1
        if key not in expected or zlib.crc32(data) != expected[key]:
            failed += 1  # unexpected or corrupted record
        by_shard.setdefault(shard, []).append((batch, pos, int(seq)))
    for key in expected:
        n = seen.get(key, 0)
        failed += 1 if n == 0 else n - 1  # lost, or each extra copy
    for rows in by_shard.values():
        rows.sort()
        failed += sum(1 for a, b in zip(rows, rows[1:]) if b[2] <= a[2])
    return failed


class SinkTracer:
    """Spans around ``sources.sinks.write_parquet`` while installed."""

    def __init__(self):
        self.spans: list[dict] = []
        self._orig = None

    def install(self) -> None:
        from broadway_kinesis_spark.sources import sinks

        orig = self._orig = sinks.write_parquet
        spans = self.spans

        def traced_write(*a, **kw):
            t0 = time.time()
            orig(*a, **kw)
            spans.append({"name": "sink.write", "start": t0, "end": time.time()})

        sinks.write_parquet = traced_write

    def uninstall(self) -> None:
        from broadway_kinesis_spark.sources import sinks

        sinks.write_parquet = self._orig


def _read_spans(trace_dir: str) -> list[dict]:
    spans = []
    for fn in sorted(os.listdir(trace_dir)):
        if fn.startswith("spans-"):
            with open(os.path.join(trace_dir, fn), encoding="utf-8") as f:
                spans += [json.loads(line) for line in f if line.strip()]
    return spans


def _read_fake_stats(stats_dir: str) -> dict:
    tot = {"calls": {}, "served": 0, "busy_s": 0.0}
    for fn in os.listdir(stats_dir):
        if fn.startswith("fake-"):
            with open(os.path.join(stats_dir, fn), encoding="utf-8") as f:
                s = json.load(f)
            for k, v in s["calls"].items():
                tot["calls"][k] = tot["calls"].get(k, 0) + v
            tot["served"] += sum(s["served"].values())
            tot["busy_s"] += s["busy_s"]
    return tot


def start_inputs(ctx: Context) -> list[tuple[str, subprocess.Popen]]:
    """Write the backlogs while the Spark session starts."""
    gens = [
        ("warmup", _generator(ctx, "warmup", "warmup", start=0, count=WARMUP)),
        ("main", _generator(ctx, "main", "backlog", start=0, count=BACKLOG)),
    ]
    if ctx.trace:  # an equal backlog for the untraced drain that prices tracing
        gens.append(("untraced", _generator(ctx, "untraced", "untraced", start=0, count=BACKLOG)))
    return gens


def measure(ctx: Context, spark) -> Result:
    from broadway_kinesis_spark.sources.kinesis_efo import KinesisEfoDataSource

    progress = Progress()
    spark.streams.addListener(progress.listener())
    spark.dataSource.register(KinesisEfoDataSource)
    fmt, opts, tracer = "kinesis_efo", {}, None
    if ctx.trace:
        from perfbench.traced_source import TracedKinesisEfoDataSource

        spark.dataSource.register(TracedKinesisEfoDataSource)
        trace_dir = os.path.join(ctx.work, "trace")
        stats_dir = os.path.join(ctx.work, "fake_stats")
        os.makedirs(trace_dir)
        os.makedirs(stats_dir)
        fmt, opts, tracer = "kinesis_efo_traced", {"traceDir": trace_dir, "fakeStatsDir": stats_dir}, SinkTracer()
    ctx.setup_s = time.time() - ctx.t_start

    # cold: the first micro-batch of the process
    warm = Stream(spark, ctx, "warmup", progress)
    t0 = warm.start()
    cold_s = warm.wait_committed(WARMUP, ctx.deadline) - t0
    warm.stop()

    # work: drain the pre-written backlog
    main = Stream(spark, ctx, "main", progress, fmt=fmt, **opts)
    if tracer:
        tracer.install()
    t0 = main.start()
    work_s = main.wait_committed(BACKLOG, ctx.deadline) - t0

    # open loop: a fixed-rate generator in its own process
    duration = max(ctx.seconds - work_s, ctx.seconds / 2)
    open_t0 = time.time() + 0.5
    gen = _generator(ctx, "main", "open", start=BACKLOG, rate=RATE, duration=duration, t0=open_t0)
    wait_proc(gen, duration + 30, "open-loop generator")
    open_log = _read_log(ctx, "open")
    generated = BACKLOG + len(open_log["i"])
    backlog_end = generated - main.committed(generated)
    main.wait_committed(generated, ctx.deadline)
    measured_s = time.time() - t0
    main.stop()
    if tracer:
        tracer.uninstall()

    overhead_ratio = 1.0
    if ctx.trace:
        twin = Stream(spark, ctx, "untraced", progress)
        t1 = twin.start()
        overhead_ratio = work_s / (twin.wait_committed(BACKLOG, ctx.deadline) - t1)
        twin.stop()

    # validity: the generator kept its schedule and the source kept up
    late_p99 = percentile([(w - d) * 1e3 for w, d in zip(open_log["written"], open_log["due"])], 99)
    ctx.prov.update(generator_late_ms_p99=late_p99, backlog_end_records=backlog_end, open_loop_s=duration)
    if late_p99 > MAX_GENERATOR_LATE_MS:
        raise RunInvalid(f"generator ran {late_p99:.1f} ms late at p99 (limit {MAX_GENERATOR_LATE_MS} ms)")
    gen_end = open_log["written"][-1]
    check_backlog(ctx, [p for p in main.batches() if open_t0 < main.commits[p.batchId] <= gen_end], backlog_end)

    t0 = time.time()
    commits = commit_times(main, open_log)
    lat = [(c - d) * 1e3 for c, d in zip(commits, open_log["due"]) if c is not None]
    failed = check_output(main.out, [_read_log(ctx, "backlog"), open_log])
    failed += sum(1 for c in commits if c is None)
    ctx.prov["check_s"] = time.time() - t0
    summary = {
        "ingest_records_per_s": BACKLOG / work_s,
        "ingest_latency_p50_ms": percentile(lat, 50),
        "ingest_latency_p99_ms": percentile(lat, 99),
        "ingest_failed_ratio": failed / generated,
        "latency_samples": len(lat),
    }
    if not ctx.trace:
        metrics = {
            "cold_s": cold_s,
            "work_s": work_s,
            "latency_p50_ms": summary["ingest_latency_p50_ms"],
            "latency_p99_ms": summary["ingest_latency_p99_ms"],
        }
        return Result(generated, failed, metrics, summary)

    spans = tracer.spans + _read_spans(trace_dir)
    fake = _read_fake_stats(stats_dir)
    batches = main.batches()
    dur = lambda p, *keys: sum(p.durationMs.get(k, 0) for k in keys)  # noqa: E731
    span_ms = lambda name: [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]  # noqa: E731
    metrics = {
        "efo.latest_offset_ms.p50": percentile(span_ms("efo.latest_offset"), 50),
        "efo.read_ms.p50": percentile(span_ms("efo.read"), 50),
        "efo.fetch_amplification": fake["served"] / sum(p.numInputRows for p in batches),
        **{f"efo.sdk_calls_per_batch.{c}": fake["calls"].get(c, 0) / len(batches) for c in SDK_CALLS},
        "microbatch.trigger_ms.p50": percentile([dur(p, "triggerExecution") for p in batches], 50),
        "microbatch.plan_ms.p50": percentile([dur(p, "queryPlanning", "getBatch") for p in batches], 50),
        "microbatch.log_commit_ms.p50": percentile([dur(p, "walCommit", "commitOffsets") for p in batches], 50),
        "microbatch.records_per_batch.p50": percentile([p.numInputRows for p in batches], 50),
        "microbatch.batches": len(batches),
        "sink.write_ms.p50": percentile(span_ms("sink.write"), 50),
        "fake_kinesis.busy_share": fake["busy_s"] / measured_s,
        "generator.late_ms.p99": late_p99,
        "generator.backlog_end_records": backlog_end,
        "trace.overhead_ratio": overhead_ratio,
    }
    return Result(generated, failed, metrics, summary, spans)
