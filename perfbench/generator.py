"""Input generator for the benchmark: appends records to a fake Kinesis stream.

One process, one thread. Two modes:

- backlog: append ``--count`` records as fast as possible (the pre-written
  backlog a consumer drains);
- open loop: append records on a fixed schedule, record ``i`` being due at
  ``t0 + (i - start) / rate``, regardless of how the consumer keeps up.

Record ``i`` goes to shard ``i % SHARDS`` with sequence number
``SEQ_BASE + i``; its payload is a JSON document stamped with its due time,
whose ~1 KB of random text depends only on ``--seed`` and ``i``.

At exit the generator writes one JSON log with, per record, its index, due
time, write time and the CRC-32 of its payload, which the benchmark uses to
check delivery, time latency and report how late the generator ran.

Usage::

    python3 perfbench/generator.py --dir D --seed 1 --start 0 --count 40000 --log L
    python3 perfbench/generator.py --dir D --seed 1 --start 40000 --rate 2000 --duration 10 --t0 T --log L
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
import zlib

SEQ_BASE = 49_590_338_271_490_256_608_559_692_538_361_571_095_921_575_989_136_588_898
SHARDS = 4
N_WORDS = 150  # words per document (~1 KB payload)
VOCAB = 4096


def shard_id(i: int) -> str:
    return f"shardId-{i % SHARDS:012d}"


class Corpus:
    """The random text of each record, a pure function of (seed, index):
    record ``i`` reads ``N_WORDS`` words at a fixed offset of one seeded
    word stream, so generating a record costs no RNG set-up."""

    POOL = 1 << 20

    def __init__(self, seed: int):
        rng = random.Random(f"{seed}:vocab")
        letters = "abcdefghijklmnopqrstuvwxyz"
        words: set[str] = set()
        while len(words) < VOCAB:
            words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
        vocab = sorted(words)
        self.pool = [vocab[k] for k in rng.choices(range(VOCAB), k=self.POOL)]

    def text(self, i: int) -> str:
        off = (i * 7919) % (self.POOL - N_WORDS)
        return " ".join(self.pool[off : off + N_WORDS])


class _Writer:
    def __init__(self, stream_dir: str, corpus: Corpus):
        os.makedirs(stream_dir, exist_ok=True)
        self.fds = [
            os.open(
                os.path.join(stream_dir, f"{shard_id(s)}.jsonl"),
                os.O_WRONLY | os.O_APPEND | os.O_CREAT,
                0o644,
            )
            for s in range(SHARDS)
        ]
        self.corpus = corpus
        self.log = {"i": [], "due": [], "written": [], "crc": []}

    def write(self, i: int, due: float) -> None:
        payload = json.dumps(
            {"doc_id": i, "due": due, "text": self.corpus.text(i)}
        )
        now = time.time()
        line = json.dumps(
            {
                "SequenceNumber": str(SEQ_BASE + i),
                "PartitionKey": str(i),
                "ApproximateArrivalTimestamp": now,
                "Data": payload,
            }
        )
        # one write per line: readers never see a torn record they index
        os.write(self.fds[i % SHARDS], line.encode("utf-8") + b"\n")
        self.log["i"].append(i)
        self.log["due"].append(due)
        self.log["written"].append(now)
        self.log["crc"].append(zlib.crc32(payload.encode("utf-8")))

    def close(self, log_path: str) -> None:
        for fd in self.fds:
            os.close(fd)
        with open(log_path, "w", encoding="utf-8") as f:
            json.dump(self.log, f)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", required=True, help="stream directory")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=int, default=0, help="index of the first record")
    ap.add_argument("--count", type=int, help="backlog mode: records to append now")
    ap.add_argument("--rate", type=float, help="open loop: records per second")
    ap.add_argument("--duration", type=float, help="open loop: seconds to generate")
    ap.add_argument("--t0", type=float, help="open loop: wall-clock time of record --start")
    ap.add_argument("--log", required=True, help="where to write the per-record log")
    args = ap.parse_args(argv)

    writer = _Writer(args.dir, Corpus(args.seed))
    if args.count is not None:
        now = time.time()
        for i in range(args.start, args.start + args.count):
            writer.write(i, now)
    else:
        if args.rate is None or args.duration is None or args.t0 is None:
            ap.error("open-loop mode needs --rate, --duration and --t0")
        end = args.start + int(args.rate * args.duration)
        i = args.start
        while i < end:
            now = time.time()
            while i < end and args.t0 + (i - args.start) / args.rate <= now:
                writer.write(i, args.t0 + (i - args.start) / args.rate)
                i += 1
            if i < end:
                wait = args.t0 + (i - args.start) / args.rate - time.time()
                if wait > 0:
                    time.sleep(wait)
    writer.close(args.log)


if __name__ == "__main__":
    main()
