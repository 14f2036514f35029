"""Workload-normalized scale columns for the two α>1 probe rows
(VERDICT r8 items 2 and 8).

`doc_containment_pairs` and `set_similarity_prefix_pairs` carry
headline growth exponents above 1 on the replica corpus, with prose
notes arguing the cause is the CORPUS (trigram-space saturation /
intrinsically quadratic true output), not the plan.  This probe turns
those arguments into numbers: for each factor it computes the
operator's measured workload drivers in DuckDB over the same scaled
parquet —

* containment: ``capped_df2_rows`` = Σ df² over post-cap (lang,
  shingle) groups — the co-shingle hash-join fanout, the term the
  df≤50 cap exists to bound — plus the true qualifying output count;
* prefix pairs: ``naive_df2_rows`` = the UNCAPPED Σ df² any complete
  exact algorithm joins through, plus the true output pair count —

and records wall-clock per unit of each driver (µs), with the
normalized stretch-leg exponent ``alpha_norm_10_30`` computed on
wall-per-driver instead of raw wall.  Wall is re-measured min-of-N
(the prior x30 rows were single-run; host noise on a saturated box is
additive, so min is the signal — same doctrine as scale_probe.py).

Usage: python tools/workload_norm_probe.py [--factors 1,3,10,30]
Merges columns into the two queries' rows in SCALE_PROBE.json.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-memory 48g pyspark-shell"
)

BASE = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, "tmp_scale")

#: shared shingle CTE — the same 3-gram/lang blocking both operators
#: and their oracles use (queries/datapipe.py)
_FLAT = """
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> toks[i] || ' ' || coalesce(toks[i+1], '') || ' ' ||
                coalesce(toks[i+2], '')
         )) AS shingles
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                 AS toks
        FROM read_parquet('{dir}/documents.parquet'))
),
flat AS (SELECT doc_id, lang, unnest(shingles) AS s FROM sh),
dfreq AS (SELECT lang, s, count(*) AS df FROM flat GROUP BY lang, s)
"""


def containment_drivers(sf_dir: str) -> dict:
    con = duckdb.connect()
    row = con.execute(
        _FLAT.format(dir=sf_dir)
        + "SELECT sum(df * df) FROM dfreq WHERE df <= 50"
    ).fetchone()
    con.close()
    return {"capped_df2_rows": int(row[0])}


def prefix_drivers(sf_dir: str) -> dict:
    con = duckdb.connect()
    row = con.execute(
        _FLAT.format(dir=sf_dir) + "SELECT sum(df * df) FROM dfreq"
    ).fetchone()
    con.close()
    return {"naive_df2_rows": int(row[0])}


def main() -> None:
    factors = [1, 3, 10, 30]
    if "--factors" in sys.argv:
        factors = [
            int(x) for x in sys.argv[sys.argv.index("--factors") + 1].split(",")
        ]
    from scale_probe import build_scaled

    dirs = {}
    for f in factors:
        if f == 1:
            dirs[f] = BASE
            continue
        d = os.path.join(OUT, f"x{f}")
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            print(f"building {f}x corpus at {d} ...", file=sys.stderr)
            build_scaled(f, d)
        dirs[f] = d

    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries
    from spark_streaming_kafka2elasticsearch_spark.session import (
        build_session,
        release_cached_state,
    )

    qs = all_queries()
    spark = build_session(master="local[32]", app_name="workload_norm_probe")
    spark.range(1_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    specs = {
        "doc_containment_pairs": ("capped_df2_rows", containment_drivers),
        "set_similarity_prefix_pairs": ("naive_df2_rows", prefix_drivers),
    }
    results: dict[str, dict] = {q: {} for q in specs}
    # untimed warm-up (janino compile tax lands outside the x1 row)
    for q in specs:
        qs[q](spark, BASE).write.format("noop").mode("overwrite").save()
        release_cached_state(spark)

    for factor in factors:
        sf_dir = dirs[factor]
        for q, (driver_key, driver_fn) in specs.items():
            drivers = driver_fn(sf_dir)
            true_pairs = qs[q](spark, sf_dir).count()
            release_cached_state(spark)
            passes = 2 if factor >= 30 else 3
            best = -1.0
            for _ in range(passes):
                t0 = time.time()
                qs[q](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t0, 2)
                best = dt if best < 0 else min(best, dt)
                release_cached_state(spark)
            row = {
                f"x{factor}": best,
                f"x{factor}_{driver_key}": drivers[driver_key],
                f"x{factor}_true_pairs": true_pairs,
                f"x{factor}_us_per_driver_row": round(
                    best * 1e6 / max(drivers[driver_key], 1), 4
                ),
            }
            results[q].update(row)
            print(f"x{factor} {q}: {json.dumps(row)}", file=sys.stderr)

    path = os.path.join(REPO, "SCALE_PROBE.json")
    with open(path) as f:
        doc = json.load(f)
    for q, vals in results.items():
        row = dict(doc["queries"].get(q, {}))
        for key, v in vals.items():
            # Every column OVERWRITES the committed value.  Min-of-N
            # de-noising already happened WITHIN this invocation (the
            # per-run min above); min-merging against prior committed
            # runs — measured on older code — would let a published
            # fast number mask a genuine later regression forever
            # (ADVICE r9), so cross-commit the newest measurement wins.
            row[key] = v
        for f in factors:
            w, d = row.get(f"x{f}", -1), row.get(f"x{f}_{specs[q][0]}", 0)
            if w > 0 and d > 0:
                row[f"x{f}_us_per_driver_row"] = round(w * 1e6 / d, 4)
        for lo, hi, name in ((1, 10, "alpha"), (10, 30, "alpha_10_30")):
            a, b = row.get(f"x{lo}", -1), row.get(f"x{hi}", -1)
            if a > 0 and b > 0:
                row[name] = round(
                    math.log(max(b, 0.01) / max(a, 0.01)) / math.log(hi / lo), 2
                )
            na = row.get(f"x{lo}_us_per_driver_row", -1)
            nb = row.get(f"x{hi}_us_per_driver_row", -1)
            if na > 0 and nb > 0:
                row[f"{name}_norm"] = round(
                    math.log(max(nb, 1e-9) / max(na, 1e-9))
                    / math.log(hi / lo),
                    2,
                )
        doc["queries"][q] = row
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({q: doc["queries"][q] for q in specs}, indent=1))


if __name__ == "__main__":
    main()
