"""Benchmark entry point.

    python3 perfbench/run.py --workload orders_etl --seed 1 --seconds 10 --trace 0

Runs one workload from the checkout root and prints, as the last line
of stdout, ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the ``end_to_end`` metrics of ``BENCHMARK.json``, with
``--trace 1`` its ``per_layer`` metrics (0 where the workload does not
exercise a layer).  A traced run of a workload in ``RIDERS`` then runs
its rider, traced, as a child run, and reports the layers only the rider
exercises.  The line before it (starting ``# ``) carries the
host stamp and the run's context.  ``--out DIR`` also writes the full
record (and, traced, the spans) to ``DIR``.  ``--cores N`` runs on
``local[N]`` instead of one slot per core (the single-thread baseline).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = time.perf_counter() - _process_age()

# A run leaves the checkout as it found it: no bytecode caches, here or
# in the processes it starts (generator, Spark's Python workers).
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

HOST_LOAD = common.HostLoad()

WORKLOADS = ("orders_etl", "doc_front_door", "datapipe_queries")
#: listed workload → a workload not in ``BENCHMARK.json`` whose layers
#: (stateful dedup, partition writer, gate operators) no listed workload
#: exercises; it rides along in the listed one's traced run
RIDERS = {"datapipe_queries": "doc_front_door"}


def _load_spec() -> dict:
    path = os.path.join(common.ROOT, "BENCHMARK.json")
    try:
        with open(path) as f:
            return json.load(f)
    except OSError as exc:
        raise common.BenchError(f"cannot read {path}: {exc}") from exc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)

    try:
        spec = _load_spec()
        common.require_program()
    except common.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    import importlib

    module = importlib.import_module(f"perfbench.{args.workload}")
    args.cores = args.cores or common.nproc()
    tracer = common.Tracer(enabled=bool(args.trace))
    args.scratch = common.Scratch()
    try:
        res = module.run(args, tracer, T_START)
    except common.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    finally:
        common.stop_session()
        args.scratch.remove()

    layers = {**res["layers"], **{f"self_s.{k}": v for k, v in _layer_self(tracer).items()}}
    if args.trace and args.workload in RIDERS:
        try:
            rider = _ride(RIDERS[args.workload], args)
        except common.BenchError as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 2
        layers = {**rider["info"]["layers"], **layers}
        res["correct"] = res["correct"] and rider["correct"]
        res["attempted"] += rider["attempted"]
        res["failed"] += rider["failed"]
        res["info"]["rider"] = {k: rider["info"][k] for k in ("workload", "end_to_end")}
    if args.trace:
        metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: res["metrics"][m["name"]] for m in spec["end_to_end"]}
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": common.host_stamp(args.cores),
        "host_load": HOST_LOAD.report(),
        "end_to_end": {k: v[0] for k, v in res["metrics"].items()},
        "layers": layers, **res["info"],
    }
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        stem = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({**info, "correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"]}, f, indent=1, default=str)
        if args.trace:
            with open(stem + ".spans.json", "w") as f:
                json.dump(tracer.dump(), f)
    common.emit(res["correct"], res["attempted"], res["failed"], metrics, info)
    return 0


def _ride(workload: str, args) -> dict:
    """Run ``workload`` traced as a child run; its result line with its
    context under ``info``."""
    import subprocess

    # at most 10 s: two timed batches keep the parent and its rider
    # inside one run's time limit
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(min(args.seconds, 10.0)), "--trace", "1",
           "--cores", str(args.cores)] + (["--out", args.out] if args.out else [])
    proc = subprocess.run(cmd, cwd=common.ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise common.BenchError(f"rider {workload} exited with code {proc.returncode}")
    return {**json.loads(lines[-1]), "info": json.loads(lines[-2][2:])}


#: span name → layer (module) it times
LAYER_OF = {
    "session.build": "session",
    "gen.append": "gen",
    "sources.get_batch": "sources",
    "stream.batch": "streaming.jobs",
    "stream.plan": "streaming.jobs",
    "stream.commit": "streaming.jobs",
    "stream.add_batch": "streaming.jobs",
    "sinks.write_batch": "streaming.sinks",
    "writer.overwrite_partitions": "sources.writer",
    "operators.call": "operators",
    "queries.construct": "queries",
    "queries.sink": "queries",
}


def _layer_self(tracer: common.Tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, secs in tracer.self_times().items():
        layer = LAYER_OF.get(name.split(":")[0], name)
        out[layer] = out.get(layer, 0.0) + secs
    return out


if __name__ == "__main__":
    sys.exit(main())
