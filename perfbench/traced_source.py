"""Traced twin of the ``kinesis_efo`` source, for the benchmark's traced run.

``TracedKinesisEfoDataSource`` registers as ``kinesis_efo_traced`` and hands
Spark a reader that delegates every call to the program's
``KinesisEfoStreamReader`` and times it from outside: ``initialOffset``,
``latestOffset``, ``partitions`` and ``commit`` in the driver-side planner
process, ``read`` (one span per shard partition) in the executor workers.

Spans stay in memory of the process that made them and are appended to
``<traceDir>/spans-<pid>.jsonl`` once per call: Spark reuses its Python
worker processes and kills them without an exit hook, so nothing held
until exit would survive. The benchmark reads every file after the query
stops.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.datasource import DataSourceStreamReader

from broadway_kinesis_spark.sources.kinesis_efo import (
    KinesisEfoDataSource,
    KinesisEfoStreamReader,
)


class _SpanLog:
    def __init__(self, trace_dir: str):
        self.path = os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl")

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps({"name": name, "start": start, "end": end, **attrs}) + "\n")


class TracedKinesisEfoStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.inner = KinesisEfoStreamReader(schema, options)
        opts = {str(k).lower(): v for k, v in dict(options).items()}
        self.spans = _SpanLog(opts["tracedir"])

    def _timed(self, name: str, fn, *args):
        t0 = time.time()
        out = fn(*args)
        self.spans.record(name, t0, time.time())
        return out

    def initialOffset(self) -> dict:
        return self._timed("efo.initial_offset", self.inner.initialOffset)

    def latestOffset(self) -> dict:
        return self._timed("efo.latest_offset", self.inner.latestOffset)

    def partitions(self, start: dict, end: dict):
        return self._timed("efo.partitions", self.inner.partitions, start, end)

    def read(self, partition):
        t0 = time.time()
        rows = list(self.inner.read(partition))
        self.spans.record(
            "efo.read", t0, time.time(), shard=partition.shard_id, rows=len(rows)
        )
        yield from rows

    def commit(self, end: dict) -> None:
        self._timed("efo.commit", self.inner.commit, end)

    def stop(self) -> None:
        self.inner.stop()


class TracedKinesisEfoDataSource(KinesisEfoDataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_efo_traced"

    def streamReader(self, schema):
        return TracedKinesisEfoStreamReader(schema, self.options)
