"""Workload ``datapipe_queries``: heavy registered queries, one client.

The queries read a seeded ``documents`` table made in the run's private
scratch, in the schema and size of the sf0.1 test table
(``TESTDATA.md``): ``doc_id, text, lang, source, n_chars``, 5 000 rows.
Texts draw from the test table's 30-word vocabulary, and some are
one-word edits of an earlier text (near duplicates).

One closed-loop client runs the query list, in an order the seed sets,
with ``release_cached_state`` between queries:

1. set-up: the table, session build and two untimed warm passes; the
   first builds the persisted index artifacts into the run's private
   scratch (so every run starts from no index, never from a stale one)
   and collects each query's output, which must equal the query's
   DuckDB oracle from ``all_oracles()`` (the output check);
2. timed: passes over the list with a noop sink, back to back until
   ``--seconds`` have passed, at least ``MIN_PASSES``; a pass's wall
   time is one latency sample, and each metric comes from the median.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

from perfbench import common
from perfbench.doc_front_door import VOCAB

#: the list: an index append with its gate, and tokenizer training;
#: sized so that a cold and a warm pass fit one run
QUERIES = ("kn_lm_index_append_gate", "bpe_train_merges")
#: the row count of the sf0.1 ``documents`` test table
N_DOCS = 5_000
LANGS = ("en",) * 8 + ("de", "fr", "es", "zh") * 3
EDIT_SHARE = 0.05
MIN_PASSES = 3


def write_documents(seed: int, root: str, n_docs: int = N_DOCS) -> None:
    """A seeded ``documents.parquet`` under ``root``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < EDIT_SHARE:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(root, "documents.parquet"))


#: floats must agree to the 9 decimals the queries and oracles round
#: to, give or take one unit in the last place: both engines round
#: values that sit on a tie within float error, and may round them
#: opposite ways
FLOAT_TOL = 1.5e-9


def _key(row: tuple) -> tuple:
    """Sort key: the non-float values first, then floats to 6 places."""
    exact = tuple(str(v) for v in row if not isinstance(v, float))
    return exact + tuple(round(v, 6) for v in row if isinstance(v, float))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        a, b = float(a), float(b)
        return (math.isnan(a) and math.isnan(b)) or abs(a - b) <= FLOAT_TOL
    return a == b or str(a) == str(b)


def compare_results(cols: list[str], rows, ocols: list[str], orows) -> tuple[bool, int]:
    """Whether a result equals its oracle's, as multisets of rows with
    columns matched by name; also the number of float values that agree
    only within ``FLOAT_TOL``, not exactly at 9 decimals."""
    if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
        return False, 0
    a = sorted((tuple(r[cols.index(c)] for c in sorted(cols)) for r in rows), key=_key)
    b = sorted((tuple(r[ocols.index(c)] for c in sorted(cols)) for r in orows), key=_key)
    ties = 0
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if not _same(u, v):
                return False, ties
            if isinstance(u, float) and isinstance(v, float) and round(u, 9) != round(v, 9):
                ties += 1
    return True, ties


def run(opts, tracer: common.Tracer, t_start: float) -> dict:
    import duckdb

    from spark_streaming_kafka2elasticsearch_spark.queries import all_oracles, all_queries
    from spark_streaming_kafka2elasticsearch_spark.session import release_cached_state

    root = opts.scratch.sub("tables")
    os.makedirs(root)
    write_documents(opts.seed, root)
    order = list(QUERIES)
    random.Random(opts.seed).shuffle(order)
    registry, oracles = all_queries(), all_oracles()

    with tracer.span("session.build"):
        spark, build_s = common.build_bench_session(opts.cores, opts.scratch, "datapipe_queries")
    sc = spark.sparkContext
    rss = common.RssSampler(spark._jvm.ProcessHandle.current().pid()).start()

    # --- set-up: warm pass, which is also the output check --------------
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'")
    bad, out_rows, warm_s, ties = [], {}, {}, {}
    for name in order:
        sc.setJobGroup(f"{name}:warm", name)
        t0 = time.perf_counter()
        df = registry[name](spark, root)
        rows = df.collect()
        release_cached_state(spark)
        warm_s[name] = time.perf_counter() - t0
        res = con.sql(oracles[name])
        ok, ties[name] = compare_results(df.columns, rows, [d[0] for d in res.description],
                                         res.fetchall())
        if not ok:
            bad.append(name)
        out_rows[name] = len(rows)
    con.close()
    # a second warm pass: the first pass after the cold one still runs
    # about 20% slower than the next
    for name in order:
        sc.setJobGroup(f"{name}:warm2", name)
        registry[name](spark, root).write.format("noop").mode("overwrite").save()
        release_cached_state(spark)
    setup_s = time.perf_counter() - t_start

    # --- timed: passes back to back for --seconds ----------------------
    passes: list[dict[str, tuple[float, float]]] = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < opts.seconds:
        tag = f"timed{len(passes)}"
        timed: dict[str, tuple[float, float]] = {}
        for name in order:
            sc.setJobGroup(f"{name}:{tag}:construct", name)
            t1 = time.perf_counter()
            with tracer.span("queries.construct", op=f"{name}:{tag}"):
                df = registry[name](spark, root)
            t2 = time.perf_counter()
            sc.setJobGroup(f"{name}:{tag}:sink", name)
            with tracer.span("queries.sink", op=f"{name}:{tag}"):
                df.write.format("noop").mode("overwrite").save()
            timed[name] = (t2 - t1, time.perf_counter() - t2)
            release_cached_state(spark)
        passes.append(timed)
    timed_s = time.perf_counter() - t0
    rss.stop()
    query_s = [c + s for p in passes for c, s in p.values()]
    pass_s = [sum(c + s for c, s in p.values()) for p in passes]

    layers = rss.layer_metrics() | {"queries.pass_s_p50": common.percentile(pass_s, 0.5)}
    if tracer.enabled:
        status = common.SparkStatus(spark)
        status.drain()
        all_jobs: list[int] = []
        for name in order:
            jc = [j for i in range(len(passes))
                  for j in status.job_ids(f"{name}:timed{i}:construct")]
            js = [j for i in range(len(passes)) for j in status.job_ids(f"{name}:timed{i}:sink")]
            all_jobs += jc + js
            layers[f"queries.{name}.construct_s"] = common.percentile(
                [p[name][0] for p in passes], 0.5)
            layers[f"queries.{name}.sink_s"] = common.percentile([p[name][1] for p in passes], 0.5)
            layers[f"queries.{name}.jobs_construct"] = len(jc) / len(passes)
            layers[f"queries.{name}.jobs_total"] = (len(jc) + len(js)) / len(passes)
        layers["queries.construct_share"] = sum(
            c for p in passes for c, _ in p.values()) / sum(query_s)
        layers["session.build_s"] = build_s
        layers.update(common.spark_layer_metrics(status.stages(all_jobs), timed_s, opts.cores))
    return {
        "correct": not bad, "attempted": len(order), "failed": len(bad),
        "metrics": {
            "setup_s": (setup_s, "s"),
            # the table's rows, once per query, per second of a median pass
            "rows_per_s": (N_DOCS * len(order) / statistics.median(pass_s), "rows/s"),
            "latency_s": (statistics.median(pass_s), "s"),
        },
        "layers": layers,
        "info": {"order": order, "failed_queries": bad, "output_rows": out_rows,
                 "float_ties": ties, "build_s": build_s, "warm_s": warm_s,
                 "passes": len(passes), "pass_s": pass_s,
                 "per_query_s": {n: [sum(p[n]) for p in passes] for n in order}},
    }
