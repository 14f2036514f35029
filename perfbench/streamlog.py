"""Reading a finished stream from the outside.

Per-event latency comes from two records Spark keeps in the query's
checkpoint: the file-source log (``sources/0/<batch>``, one JSON line
per file the batch read, compacted every few batches into
``<batch>.compact``) and the commit log (``commits/<batch>``, written
once the sink's ``foreachBatch`` returned).  Joining them with the
generator's manifest gives, per file, the time from its due stamp to
the end of the sink commit of the batch that carried it.  Per-trigger
durations come from the query's public progress reports.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from urllib.parse import unquote, urlparse


def file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Absolute file path → id of the batch that read it."""
    log_dir = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # version header
                entry = json.loads(line)
                out[os.path.normpath(unquote(urlparse(entry["path"]).path))] = int(
                    entry["batchId"]
                )
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id → wall time its commit-log entry was written."""
    log_dir = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    for name in os.listdir(log_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(log_dir, name)).st_mtime
    return out


def file_latencies(
    manifest: list[dict], batch_of: dict[str, int], committed: dict[int, float]
) -> tuple[list[tuple[float, int]], list[dict]]:
    """Per manifest file, ``(commit time − due time, events)``: every
    event of a file shares its due time and the commit of the batch that
    carried it, so the file, not the event, is one latency sample.  Also
    returns the manifest entries whose file no committed batch carried."""
    out: list[tuple[float, int]] = []
    missing: list[dict] = []
    for entry in manifest:
        batch = batch_of.get(os.path.normpath(entry["path"]))
        if batch is None or batch not in committed:
            missing.append(entry)
            continue
        out.append((committed[batch] - entry["due"], entry["events"]))
    return out, missing


def epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with a trailing ``Z``."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batches(query) -> list[dict]:
    """The query's recent progress reports, reduced to what the
    benchmark uses, data batches only, in batch order."""
    out = []
    for p in query.recentProgress:
        if p.numInputRows == 0:
            continue  # idle report
        d = p.durationMs
        start = epoch(p.timestamp)
        out.append(
            {
                "batch": p.batchId,
                "start": start,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                "rows": p.numInputRows,
                "ms": dict(d),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )
    seen, uniq = set(), []
    for b in sorted(out, key=lambda b: b["batch"]):
        if b["batch"] not in seen:
            seen.add(b["batch"])
            uniq.append(b)
    return uniq


#: progress phases that become child spans of a batch, in the order a
#: micro-batch runs them, with the layer each belongs to
_PHASES = (
    ("latestOffset", "sources.get_batch"),
    ("walCommit", "stream.commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "stream.plan"),
    ("addBatch", "stream.add_batch"),
    ("commitOffsets", "stream.commit"),
)


def batch_spans(tracer, done: list[dict]) -> dict[int, int]:
    """One ``stream.batch`` span per progress report, with its phases
    laid end to end as children.  Returns batch id → ``addBatch`` span
    id, the parent of the sink calls made inside it."""
    add_batch: dict[int, int] = {}
    for b in done:
        op = str(b["batch"])
        parent = tracer.add("stream.batch", b["start"], b["end"], op=op, count=b["rows"])
        t = b["start"]
        for key, name in _PHASES:
            dur = b["ms"].get(key, 0) / 1000.0
            sid = tracer.add(name, t, t + dur, op=op, parent=parent)
            if key == "addBatch":
                add_batch[b["batch"]] = sid
            t += dur
    return add_batch


def stream_metrics(spark, run_id: str, timed: list[dict], cores: int) -> dict:
    """The ``sources``/``streaming.jobs`` and Spark status-store metrics
    of a stream's timed batches (the stream's job group is its run id)."""
    from perfbench import common

    status = common.SparkStatus(spark)
    status.drain()
    t0, t1 = min(b["start"] for b in timed), max(b["end"] for b in timed)
    jobs = status.job_ids(run_id, since=t0, until=t1)
    stages = status.stages(jobs)
    n = len(timed)
    batch_ms = [b["ms"].get("triggerExecution", 0) for b in timed]

    def p50(*keys: str) -> float:
        return common.percentile([sum(b["ms"].get(k, 0) for k in keys) for b in timed], 0.5)

    return {
        "sources.get_batch_ms_p50": p50("latestOffset", "getBatch"),
        "sources.input_rows": sum(b["rows"] for b in timed),  # counts each scan
        "stream.batches": n,
        "stream.batch_ms_p50": common.percentile(batch_ms, 0.5),
        "stream.batch_ms_max": max(batch_ms),
        "stream.plan_ms_p50": p50("queryPlanning"),
        "stream.commit_ms_p50": p50("walCommit", "commitOffsets"),
        "stream.jobs_per_batch": len(jobs) / n,
        "stream.tasks_per_batch": stages["tasks"] / n,
        **common.spark_layer_metrics(stages, t1 - t0, cores),
    }
