"""Repeat the benchmark over seeds, and compare two such records.

    python3 perfbench/spread.py sweep --workload orders_etl,doc_front_door \
        --seeds 1-10 --out '{workload}.json'
    python3 perfbench/spread.py sweep --workload orders_etl --seeds 1 --trace 1 --out t.json
    python3 perfbench/spread.py compare parent.json change.json

``sweep`` runs ``run.py`` once per seed and workload (one process each,
one after the other; for each seed every workload in turn) and records
every result line with the host stamp, one record per workload.  For
each metric it reports the median, the quartiles from
``statistics.quantiles(values, n=4)`` and their distance as a share
of the median; untraced end-to-end metrics are checked against their
``bound`` in ``BENCHMARK.json``.

``compare`` prints the change of each median against the parent's and
refuses records taken on different core counts or ``local[N]``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int, cores: int | None) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    info = json.loads(lines[-2][2:])
    return {"seed": seed, "wall_s": wall_s, "info": info, **json.loads(lines[-1])}


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        row = {"unit": runs[0]["metrics"][name]["unit"], "n": len(vals), "median": med,
               "values": vals}
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            row.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
            if name in bounds:
                row["bound"] = bounds[name]
                row["within_third_of_bound"] = row["spread"] is not None and (
                    row["spread"] < bounds[name] / 3)
        out[name] = row
    return out


def sweep(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {} if args.trace else {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]
    workloads = args.workload.split(",")
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    # seed by seed, the workloads in turn: a slow spell of the host
    # falls on every workload alike
    for seed in _seeds(args.seeds):
        for w in workloads:
            r = run_once(w, seed, seconds, args.trace, args.cores)
            runs[w].append(r)
            print(f"{w} seed {seed}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                             if not args.trace),
                  flush=True)
    ok = True
    for w in workloads:
        record = {
            "workload": w, "seconds": seconds, "trace": args.trace,
            "host": runs[w][0]["info"]["host"], "all_correct": all(r["correct"] for r in runs[w]),
            "summary": summarize(runs[w], bounds), "runs": runs[w],
        }
        ok &= record["all_correct"]
        for name, row in record["summary"].items():
            if "spread" in row:
                print(f"{w} {name:>24} median {row['median']:.4g} {row['unit']} "
                      f"spread {row['spread']:.3f}"
                      + (f" (bound {row['bound']})" if "bound" in row else ""))
        if args.out:
            with open(args.out.format(workload=w), "w") as f:
                json.dump(record, f, indent=1)
    return 0 if ok else 1


def compare(args) -> int:
    with open(args.parent) as f:
        a = json.load(f)
    with open(args.change) as f:
        b = json.load(f)
    for key in ("nproc", "master"):
        if a["host"][key] != b["host"][key]:
            print(f"refusing to compare: {key} {a['host'][key]} vs {b['host'][key]}",
                  file=sys.stderr)
            return 2
    for name, row in a["summary"].items():
        if name in b["summary"]:
            new = b["summary"][name]["median"]
            delta = (new - row["median"]) / row["median"] if row["median"] else float("nan")
            print(f"{name:>28} {row['median']:.4g} -> {new:.4g} {row['unit']} ({delta:+.1%})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sw = sub.add_parser("sweep")
    sw.add_argument("--workload", required=True)
    sw.add_argument("--seeds", default="1-10")
    sw.add_argument("--seconds", type=float, default=None)
    sw.add_argument("--trace", type=int, default=0)
    sw.add_argument("--cores", type=int, default=None)
    sw.add_argument("--out", default=None)
    cp = sub.add_parser("compare")
    cp.add_argument("parent")
    cp.add_argument("change")
    args = ap.parse_args()
    return sweep(args) if args.cmd == "sweep" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
