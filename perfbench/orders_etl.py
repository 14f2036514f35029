"""Workload ``orders_etl``: the paper's job.

Kafka-envelope order files (written by the separate generator process
``orders_gen.py``) → ``orders_enrichment_stream`` (parse, curate,
stream–static join with a literal cities dimension) →
``KeyedUpsertParquetSink``, read with no per-trigger cap like the
reference's Kafka source.  One stream runs the whole run, in closed-loop
rounds: the generator publishes a round's files at once, and the next
round starts when the stream has committed them.

1. set-up: session build, stream start and ``WARM_PAIRS`` untimed pairs
   of rounds, so that the timed rounds merge into an existing table with
   a warm plan;
2. timed: pairs of rounds for ``--seconds`` seconds (at least
   ``MIN_PAIRS``): a *small* round of one file of ``SMALL_EVENTS``
   events, whose time from publishing to the sink commit is a latency
   sample, and a *large* round of ``LARGE_FILES`` files of
   ``LARGE_EVENTS`` events, whose events per second from publishing to
   the commit are a capacity sample; each metric is the median of its
   samples;
3. traced runs only: an open-loop tail at ``RATE`` events/s (one file
   every ``TICK`` seconds) for ``RAMP`` + ``--seconds`` seconds; its
   per-file latencies over the last ``--seconds`` are per-layer metrics;
4. check, untimed: the sink table must equal the table rebuilt in pure
   Python from the generator's events.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from perfbench import common, orders_data, streamlog

#: closed-loop rounds: one small file (latency), several large ones
#: published together (capacity); about 11 000 table rows a pair
SMALL_EVENTS = 1_000
LARGE_FILES, LARGE_EVENTS = 4, 2_500
WARM_PAIRS, MIN_PAIRS = 3, 5
#: open-loop tail of traced runs: offered events/s and file interval
#: (s); 10 files a second put 10 files beyond p90 in a 10 s tail
RATE, TICK = 2_000, 0.1
#: seconds of tail before the measured ones: the first tail batches
#: after the closed loop run slower while the stream fills its pipeline
RAMP = 2.0
#: a trigger cap above any file count the run writes
NO_CAP = 1_000_000


class GeneratorProcess:
    """The generator as a child process, driven by JSON lines."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.ROOT, "perfbench", "orders_gen.py"),
             "--seed", str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=common.ROOT,
        )

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def reply(self) -> list[dict]:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with code {self.proc.wait()}")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"cmd": "exit"}\n')
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def check_sink(seed: int, sink_path: str, manifest: list[dict], batch_of: dict[str, int]):
    """Compare the sink table with the one rebuilt from the generator's
    events.  Returns the batches that carried a wrong or missing row,
    the number of rows no event explains, and the table's row count."""
    import pyarrow.parquet as pq

    log = orders_data.EventLog(seed)
    files: list[tuple[str, list[int]]] = []
    for e in sorted(manifest, key=lambda e: e["file_no"]):
        files.append((e["path"], log.file(e["file_no"], e["n_new"])))
    want = log.expected_table([s for _, fs in files for s in fs])
    table = pq.read_table(sink_path, columns=list(orders_data.SINK_COLUMNS))
    got: dict[str, tuple] = {}
    extra = 0
    for row in zip(*(table.column(c).to_pylist() for c in orders_data.SINK_COLUMNS)):
        if row[2] in got or row[2] not in want:
            extra += 1
        got[row[2]] = row
    wrong = {k for k, row in want.items() if got.get(k) != row}
    bad_batches = {
        batch_of.get(os.path.normpath(path), -1)
        for path, fs in files
        if any(log.rows[s][2] in wrong for s in fs)
    }
    return bad_batches, extra, table.num_rows


def run(opts, tracer: common.Tracer, t_start: float) -> dict:
    from spark_streaming_kafka2elasticsearch_spark.sources.files import (
        KafkaEnvelopeReplaySource,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        orders_enrichment_stream,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        KeyedUpsertParquetSink,
    )

    scratch = opts.scratch
    src_dir, sink_dir, chk = scratch.sub("src"), scratch.sub("sink"), scratch.sub("chk")
    os.makedirs(src_dir)
    warm: list[dict] = []
    #: timed rounds: (kind, the files the round published)
    rounds: list[tuple[str, list[dict]]] = []
    tail: list[dict] = []
    writes: list[tuple[int, float, float]] = []
    gen = GeneratorProcess(opts.seed)
    try:
        with tracer.span("session.build"):
            spark, build_s = common.build_bench_session(opts.cores, scratch, "orders_etl")
        rss = common.RssSampler(spark._jvm.ProcessHandle.current().pid()).start()
        cities = spark.createDataFrame(orders_data.cities(), "city_id int, city string")
        sink = KeyedUpsertParquetSink(sink_dir)
        if tracer.enabled:
            inner = sink.write_batch

            def write_batch(df, epoch_id):
                t0 = time.time()
                try:
                    inner(df, epoch_id)
                finally:
                    writes.append((epoch_id, t0, time.time()))

            sink.write_batch = write_batch
        q = sink.start(
            orders_enrichment_stream(
                spark, KafkaEnvelopeReplaySource(src_dir), cities,
                max_files_per_trigger=NO_CAP,
            ),
            checkpoint_dir=chk,
            query_name="orders_etl",
        )

        def publish(files: int, events: int) -> list[dict]:
            gen.send(cmd="burst", dir=src_dir, files=files, events=events)
            entries = gen.reply()
            q.processAllAvailable()
            return entries

        try:
            t_warm = time.perf_counter()
            for _ in range(WARM_PAIRS):
                warm += publish(1, SMALL_EVENTS) + publish(LARGE_FILES, LARGE_EVENTS)
            # --- timed: closed-loop pairs of rounds ----------------------
            t_timed = time.perf_counter()
            while len(rounds) < 2 * MIN_PAIRS or time.perf_counter() - t_timed < opts.seconds:
                rounds.append(("small", publish(1, SMALL_EVENTS)))
                rounds.append(("large", publish(LARGE_FILES, LARGE_EVENTS)))
            timed_s = time.perf_counter() - t_timed
            if tracer.enabled:
                gen.send(cmd="tail", dir=src_dir, rate=RATE, tick=TICK,
                         seconds=RAMP + opts.seconds)
                tail = gen.reply()
                q.processAllAvailable()
            done = streamlog.batches(q)
            run_id = str(q.runId)
        finally:
            q.stop()
        rss.stop()
    finally:
        gen.close()

    # --- untimed: latency join and output check ------------------------
    t_check = time.perf_counter()
    batch_of = streamlog.file_batches(chk)
    committed = streamlog.commit_times(chk)
    warm_s = [max(x for x, _ in streamlog.file_latencies([e], batch_of, committed)[0])
              for e in warm]
    small_s: list[float] = []
    large_rate: list[float] = []
    round_batches: list[int] = []
    missing: list[dict] = []
    for kind, entries in rounds:
        lat, miss = streamlog.file_latencies(entries, batch_of, committed)
        missing += miss
        if miss:
            continue
        # a round's files share their due time; it ends with its last commit
        took = max(x for x, _ in lat)
        if kind == "small":
            small_s.append(took)
        else:
            large_rate.append(sum(e["events"] for e in entries) / took)
            round_batches.append(len({batch_of[os.path.normpath(e["path"])] for e in entries}))
    timed_files = [e for _, entries in rounds for e in entries]
    bad, extra, table_rows = check_sink(opts.seed, sink_dir, warm + timed_files + tail, batch_of)
    attempted = len(rounds)
    failed = min(attempted, len(bad) + (1 if extra else 0) + len(missing))
    check_s = time.perf_counter() - t_check
    if not small_s or not large_rate:
        raise common.BenchError("no timed round was committed")

    metrics = {
        "setup_s": (t_timed - t_start, "s"),
        "rows_per_s": (statistics.median(large_rate), "rows/s"),
        "latency_s": (statistics.median(small_s), "s"),
    }
    info = {
        "pairs": len(rounds) // 2,
        "small_round_s": small_s,
        "large_round_rows_per_s": large_rate,
        "large_round_batches": round_batches,
        "table_rows": table_rows,
        "missing_files": len(missing),
        "wrong_batches": sorted(bad),
        "extra_rows": extra,
        "warm_s": t_timed - t_warm,
        "warm_file_s": warm_s,
        "timed_s": timed_s,
        "check_s": check_s,
    }
    layers = rss.layer_metrics()
    if tracer.enabled:
        layers |= _layers(spark, tracer, opts, done, writes, rounds, tail, batch_of,
                          committed, run_id, build_s, table_rows)
    return {"correct": not bad and not extra and not missing, "attempted": attempted,
            "failed": failed, "metrics": metrics, "layers": layers, "info": info}


def _layers(spark, tracer, opts, done, writes, rounds, tail, batch_of, committed,
            run_id, build_s, table_rows) -> dict:
    add_batch = streamlog.batch_spans(tracer, done)
    for epoch_id, t0, t1 in writes:
        tracer.add("sinks.write_batch", t0, t1, op=str(epoch_id),
                   parent=add_batch.get(epoch_id))
    timed_files = [e for _, entries in rounds for e in entries]
    for e in timed_files + tail:
        tracer.add("gen.append", e["start"], e["end"], op=str(e["file_no"]), count=e["events"])

    def batches_of(entries):
        return {batch_of.get(os.path.normpath(e["path"])) for e in entries} - {None}

    timed_ids = batches_of(timed_files)
    timed = [b for b in done if b["batch"] in timed_ids]
    tail_ids = batches_of(tail)
    lat, _ = streamlog.file_latencies(tail[round(RAMP / TICK):], batch_of, committed)
    tail_lat = [x for x, _ in lat]

    due_of = {os.path.normpath(e["path"]): e["due"] for e in tail}
    oldest: dict[int, float] = {}
    for path, batch in batch_of.items():
        if path in due_of:
            oldest[batch] = min(oldest.get(batch, float("inf")), due_of[path])
    starts = {b["batch"]: b["start"] for b in done}
    read_lag = [starts[b] - oldest[b] for b in tail_ids if b in starts and b in oldest]

    write_s = {e: t1 - t0 for e, t0, t1 in writes}
    per_batch = [write_s[b["batch"]] for b in timed if b["batch"] in write_s]
    q = max(1, len(per_batch) // 4)
    batch_s = sum(b["ms"].get("triggerExecution", 0) for b in timed) / 1000.0
    return {
        "session.build_s": build_s,
        **streamlog.stream_metrics(spark, run_id, timed, opts.cores),
        "sources.read_lag_s_max": max(read_lag) if read_lag else 0.0,
        "gen.late_s_max": max(e["start"] - e["due"] for e in tail),
        "tail.latency_p50_s": common.reported_percentile(tail_lat, 0.50),
        "tail.latency_p90_s": common.reported_percentile(tail_lat, 0.90),
        "sinks.write_s_p50": common.percentile(per_batch, 0.5),
        "sinks.write_share": sum(per_batch) / batch_s,
        "sinks.write_growth": (sum(per_batch[-q:]) / q) / (sum(per_batch[:q]) / q),
        "sinks.table_rows": table_rows,
    }
