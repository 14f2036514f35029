"""Per-query optimization profiler (guide §1).

For each named query (default: the N most expensive in BENCH_LOCAL):

* times DataFrame CONSTRUCTION separately from EXECUTION (construction
  includes any driver-side actions the query performs — k-means
  training collects, fixture builds, counts);
* times the noop-sink execution (guide §1.4) over --runs passes;
* counts, per warm construction, the py4j round trips the Python side
  sends to the JVM and the Spark jobs that run while the plan is
  built, and reports the median of each over the --runs passes;
* writes ``plans/r14/<name>_<tag>.txt`` with ``explain('formatted')``
  plus a one-line plan-shape summary (Exchange / join-strategy /
  Python-eval node counts).

Usage:
    python tools/profile_query.py [--tag before|after] [--runs 3] q1 q2 ...
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 48g pyspark-shell")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_shape(text: str) -> dict:
    return {
        "Exchange": len(re.findall(r"\bExchange\b", text)),
        "BroadcastHashJoin": len(re.findall(r"\bBroadcastHashJoin\b", text)),
        "SortMergeJoin": len(re.findall(r"\bSortMergeJoin\b", text)),
        "ShuffledHashJoin": len(re.findall(r"\bShuffledHashJoin\b", text)),
        "BatchEvalPython": len(re.findall(r"\bBatchEvalPython\b", text)),
        "ArrowEvalPython": len(re.findall(r"\bArrowEvalPython\b", text)),
        "MapInPandas/Arrow": len(re.findall(r"\bMapIn(Pandas|Arrow)\b", text)),
        "Window": len(re.findall(r"\bWindow\b", text)),
        "Sort": len(re.findall(r"\bSort \b", text)),
        "Scans": len(re.findall(r"Scan parquet", text)),
    }


class RoundTrips:
    """Counts the py4j commands the calling thread sends to the JVM:
    the gateway client's ``send_command`` is wrapped once, and every
    ``JavaObject`` and ``JavaMember`` sends through that client.  The
    releases of dead Java references, which py4j's finalizer thread
    sends whenever Python's garbage collector runs, are not counted,
    so a count repeats from run to run."""

    def __init__(self, spark) -> None:
        self.n = 0
        caller = threading.get_ident()
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if threading.get_ident() == caller:
                self.n += 1
            return send(*args, **kwargs)

        client.send_command = counted


def counted_construction(spark, trips: RoundTrips, group: str, build):
    """``build()`` under its own job group: returns its result, its
    wall time, the py4j round trips it made and the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        n0, t0 = trips.n, time.time()
        out = build()
        seconds, n_trips = time.time() - t0, trips.n - n0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return out, seconds, n_trips, jobs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plans-dir", default=os.path.join(REPO, "plans", "r15"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0, help="profile top-N from BENCH_LOCAL")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries
    from spark_streaming_kafka2elasticsearch_spark.session import (
        build_session,
        release_cached_state,
    )

    qmap = all_queries()
    names = list(args.queries)
    if args.top:
        with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
            prev = json.load(f)["queries"]
        names += [
            n
            for n, _ in sorted(prev.items(), key=lambda kv: -kv[1])[: args.top]
            if n in qmap and n not in names
        ]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(master=f"local[{cpus}]", app_name="profile")
    os.makedirs(args.plans_dir, exist_ok=True)
    trips = RoundTrips(spark)

    # generic warm-up (mirrors bench.py)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    results = {}
    for name in names:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")
        t0 = time.time()
        df = fn(spark, args.sf_dir)
        t_build = time.time() - t0
        text = plan_text(df)
        shape = plan_shape(text)
        with open(f"{args.plans_dir}/{name}_{args.tag}.txt", "w") as f:
            f.write(text)
        release_cached_state(spark)
        exec_times, n_trips, n_jobs = [], [], []
        for run in range(args.runs):
            df2, t_con, trips_run, jobs_run = counted_construction(
                spark, trips, f"profile-{name}-{run}", lambda: fn(spark, args.sf_dir)
            )
            n_trips.append(trips_run)
            n_jobs.append(jobs_run)
            t1 = time.time()
            df2.write.format("noop").mode("overwrite").save()
            exec_times.append((round(t_con, 3), round(time.time() - t1, 3)))
            release_cached_state(spark)
        results[name] = {
            "first_build_sec": round(t_build, 3),
            "runs(construct,exec)": exec_times,
            "construct_round_trips": statistics.median(n_trips),
            "construct_jobs": statistics.median(n_jobs),
            "shape": shape,
        }
        print(
            f"{name}: build {t_build:.2f}s runs {exec_times}"
            f" round trips {n_trips} construct jobs {n_jobs} {shape}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
