"""Load generator for ``orders_etl``: a separate, single-threaded process.

It writes Kafka-envelope parquet files through the program's
``KafkaEnvelopeReplaySource.append_batch`` (4 partitions) and keeps its
own schedule whatever the stream does.  Commands arrive as JSON lines
on stdin; each reply is one JSON line on stdout listing the files
written, with the time each was due and the time its append started
and ended:

  {"cmd": "burst", "dir": D, "files": K, "events": N}
        write K files hidden from the stream, then publish them together;
        each is due when the publishing starts
  {"cmd": "tail", "dir": D, "rate": R, "tick": T, "seconds": S}
        open loop: every T seconds one file of R*T events, for S seconds
  {"cmd": "exit"}

Run: ``python3 perfbench/orders_gen.py --seed 1`` (the benchmark starts it).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import orders_data  # noqa: E402


class Generator:
    def __init__(self, seed: int) -> None:
        self.log = orders_data.EventLog(seed)
        self.file_no = 0
        self._sources: dict = {}

    def _source(self, path: str):
        from spark_streaming_kafka2elasticsearch_spark.sources.files import (
            KafkaEnvelopeReplaySource,
        )

        if path not in self._sources:
            self._sources[path] = KafkaEnvelopeReplaySource(path)
        return self._sources[path]

    def append(self, path: str, n: int, due: float, hidden: bool = False) -> dict:
        stamp = dt.datetime.fromtimestamp(due, tz=dt.timezone.utc)
        name = f"f-{self.file_no:06d}"
        start = time.time()
        seqs = self.log.file(self.file_no, n)
        # the file source skips names starting with '.'
        self._source(path).append_batch(self.log.records(seqs, stamp),
                                        batch_name="." + name if hidden else name)
        end = time.time()
        entry = {
            "path": os.path.join(path, f"{name}.parquet"), "file_no": self.file_no,
            "n_new": n, "events": len(seqs), "due": due, "start": start, "end": end,
        }
        self.file_no += 1
        return entry

    def burst(self, path: str, files: int, events: int) -> list[dict]:
        """One closed-loop round: ``files`` files that the stream sees
        at once, so that one micro-batch reads them all."""
        out = [self.append(path, events, time.time(), hidden=True) for _ in range(files)]
        due = time.time()
        for entry in out:
            head, name = os.path.split(entry["path"])
            os.rename(os.path.join(head, "." + name), entry["path"])
            entry["due"] = due
        return out

    def tail(self, path: str, rate: float, tick: float, seconds: float) -> list[dict]:
        per_file = max(1, round(rate * tick))
        t0 = time.time() + tick
        out = []
        for k in range(max(1, round(seconds / tick))):
            due = t0 + k * tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            out.append(self.append(path, per_file, due))
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    gen = Generator(args.seed)
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "exit":
            break
        if cmd["cmd"] == "burst":
            out = gen.burst(cmd["dir"], cmd["files"], cmd["events"])
        elif cmd["cmd"] == "tail":
            out = gen.tail(cmd["dir"], cmd["rate"], cmd["tick"], cmd["seconds"])
        else:
            raise SystemExit(f"unknown command {cmd['cmd']!r}")
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
