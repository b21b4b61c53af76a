"""File-backed Kinesis SDK fake for the benchmark.

The source under test imports this module by name through its
``clientFactory`` option (``perfbench.fake_kinesis:factory``), in the
driver-side planner process and in every executor Python worker alike.

A stream is a directory; each shard is an append-only JSONL log
``<shard>.jsonl`` written by ``perfbench/generator.py``. Every line starts
with ``{"SequenceNumber": "<digits>"`` so the byte-offset index can be
extended by scanning only the bytes appended since the last call, without
parsing JSON. A call therefore costs O(new bytes) to index plus O(records
served) to read, independent of how long the stream has grown.

Served calls: ``list_shards``, ``get_shard_iterator``, ``get_records`` and
``subscribe_to_shard`` (an event stream of bounded events that ends at the
shard tip, as a subscription whose server-side time limit has passed).

When the ``fakeStatsDir`` option is set, each process keeps call counts,
records served and busy seconds in memory and rewrites one small snapshot
file per process after every call (Spark's worker processes are reused and
killed without an exit hook, so a cumulative snapshot is the only record
that survives them).
"""

from __future__ import annotations

import bisect
import json
import os
import time

#: records per SubscribeToShardEvent
EVENT_RECORDS = 1000
_PREFIX = b'{"SequenceNumber": "'


class _ShardIndex:
    """Byte offsets and sequence numbers of the complete lines of one shard log."""

    def __init__(self, path: str):
        self.path = path
        self.offsets: list[int] = []  # start of line i
        self.seqs: list[int] = []
        self.end = 0  # byte just past the last indexed line

    def refresh(self) -> None:
        try:
            size = os.path.getsize(self.path)
        except FileNotFoundError:
            return
        if size <= self.end:
            return
        with open(self.path, "rb") as f:
            f.seek(self.end)
            chunk = f.read(size - self.end)
        pos = 0
        plen = len(_PREFIX)
        while True:
            nl = chunk.find(b"\n", pos)
            if nl < 0:
                break  # trailing partial line: the writer has not finished it
            q = chunk.index(b'"', pos + plen)
            self.offsets.append(self.end + pos)
            self.seqs.append(int(chunk[pos + plen : q]))
            pos = nl + 1
        self.end += pos

    def __len__(self) -> int:
        return len(self.seqs)

    def read(self, lo: int, hi: int) -> list[dict]:
        """Records ``lo`` .. ``hi - 1`` decoded into SDK-shaped dicts."""
        if lo >= hi:
            return []
        stop = self.offsets[hi] if hi < len(self.offsets) else self.end
        with open(self.path, "rb") as f:
            f.seek(self.offsets[lo])
            raw = f.read(stop - self.offsets[lo])
        out = []
        for line in raw.splitlines():
            rec = json.loads(line)
            rec["Data"] = rec["Data"].encode("utf-8")
            out.append(rec)
        return out


class _Stats:
    """Per-process call counters, snapshotted to ``<dir>/fake-<pid>.json``."""

    def __init__(self, stats_dir: str | None):
        self.dir = stats_dir
        self.calls: dict[str, int] = {}
        self.served = {"get_records": 0, "subscribe_to_shard": 0}
        self.busy_s = 0.0

    def add(self, method: str, served: int, busy_s: float, call: bool = True) -> None:
        if call:
            self.calls[method] = self.calls.get(method, 0) + 1
        if method in self.served:
            self.served[method] += served
        self.busy_s += busy_s
        if self.dir is not None:
            tmp = os.path.join(self.dir, f".fake-{os.getpid()}.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(
                    {"calls": self.calls, "served": self.served, "busy_s": self.busy_s},
                    f,
                )
            os.replace(tmp, os.path.join(self.dir, f"fake-{os.getpid()}.json"))


#: Process-wide caches. The source builds a fresh client for every
#: partition read, so an index owned by the client would re-scan the whole
#: log on each read; keyed here by path, each process indexes a byte once.
_INDEXES: dict[str, _ShardIndex] = {}
_STATS: dict[str | None, _Stats] = {}


class FakeKinesisClient:
    def __init__(self, data_dir: str, stats: _Stats):
        self.data_dir = data_dir
        self.stats = stats

    def _shard(self, shard_id: str) -> _ShardIndex:
        path = os.path.join(self.data_dir, f"{shard_id}.jsonl")
        idx = _INDEXES.get(path)
        if idx is None:
            if not os.path.isfile(path):
                raise KeyError(shard_id)
            idx = _INDEXES[path] = _ShardIndex(path)
        idx.refresh()
        return idx

    def _position(self, idx: _ShardIndex, kind: str, seq: str | None) -> int:
        """Index of the first record to serve. The benchmark starts every
        stream at TRIM_HORIZON, and the source resumes by sequence number."""
        if kind == "TRIM_HORIZON":
            return 0
        if kind == "AT_SEQUENCE_NUMBER":
            return bisect.bisect_left(idx.seqs, int(seq))
        if kind == "AFTER_SEQUENCE_NUMBER":
            return bisect.bisect_right(idx.seqs, int(seq))
        raise ValueError(f"position type {kind!r} is not served by this fake")

    def list_shards(self, **kw):
        t0 = time.perf_counter()
        names = sorted(
            fn[: -len(".jsonl")]
            for fn in os.listdir(self.data_dir)
            if fn.endswith(".jsonl")
        )
        self.stats.add("list_shards", 0, time.perf_counter() - t0)
        return {"Shards": [{"ShardId": s} for s in names]}

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType, **kw):
        t0 = time.perf_counter()
        idx = self._shard(ShardId)
        pos = self._position(idx, ShardIteratorType, kw.get("StartingSequenceNumber"))
        self.stats.add("get_shard_iterator", 0, time.perf_counter() - t0)
        return {"ShardIterator": f"{ShardId}:{pos}"}

    def get_records(self, ShardIterator, Limit=10_000):
        t0 = time.perf_counter()
        shard_id, pos = ShardIterator.rsplit(":", 1)
        idx = self._shard(shard_id)
        lo = int(pos)
        hi = min(lo + Limit, len(idx))
        out = idx.read(lo, hi)
        self.stats.add("get_records", len(out), time.perf_counter() - t0)
        return {
            "Records": out,
            "NextShardIterator": f"{shard_id}:{hi}",
            "MillisBehindLatest": 0,
        }

    def subscribe_to_shard(self, ConsumerARN, ShardId, StartingPosition):
        t0 = time.perf_counter()
        idx = self._shard(ShardId)
        pos = self._position(idx, StartingPosition["Type"], StartingPosition.get("SequenceNumber"))
        self.stats.add("subscribe_to_shard", 0, time.perf_counter() - t0)
        return {"EventStream": self._events(idx, pos)}

    def _events(self, idx: _ShardIndex, pos: int):
        """Bounded events from ``pos`` to the tip; records are counted as
        served only when the consumer actually pulls their event."""
        while True:
            t0 = time.perf_counter()
            idx.refresh()
            hi = min(pos + EVENT_RECORDS, len(idx))
            recs = idx.read(pos, hi)
            self.stats.add(
                "subscribe_to_shard", len(recs), time.perf_counter() - t0, call=False
            )
            if not recs:
                return
            pos = hi
            yield {
                "SubscribeToShardEvent": {
                    "Records": recs,
                    "ContinuationSequenceNumber": recs[-1]["SequenceNumber"],
                    "MillisBehindLatest": 0,
                }
            }


def factory(options: dict) -> FakeKinesisClient:
    """``clientFactory`` entry point. Option keys arrive lower-cased."""
    stats_dir = options.get("fakestatsdir")
    stats = _STATS.get(stats_dir)
    if stats is None:
        stats = _STATS[stats_dir] = _Stats(stats_dir)
    return FakeKinesisClient(options["fakedatadir"], stats)
