"""Registry-wide physical-plan audit → PLAN_AUDIT.json.

For every registered query, summarize the physical plan with
``plans.inspect.plan_metrics`` (exchanges, join strategies, scans with
pushed filters, cartesian detection), and of every plan the query
checkpoints while it is built.  No query's result is executed, only
the jobs a query runs while it is built — this audits SHAPE, the
thing that predicts 100 TB behavior: a query whose plan shows 0
cartesians, pushed filters at every scan, and broadcast joins where
dims are small is a query that scales; one extra Exchange here is ~one
extra full shuffle of the input there.

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql.classic.dataframe import DataFrame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spark_streaming_kafka2elasticsearch_spark.plans.inspect import plan_metrics  # noqa: E402
from spark_streaming_kafka2elasticsearch_spark.queries import (  # noqa: E402
    all_queries,
    build_once,
)
from spark_streaming_kafka2elasticsearch_spark.session import (  # noqa: E402
    build_session,
    release_cached_state,
)


#: plan_metrics of the DataFrames passed to ``localCheckpoint`` while
#: the current query is built, filled by :func:`record_checkpoints`.
CHECKPOINTED: list[dict] = []


def record_checkpoints() -> None:
    """Wrap ``DataFrame.localCheckpoint``, inside this tool only, so each
    call first appends ``plan_metrics`` of its input to CHECKPOINTED: a
    checkpointed result plans as a scan of its RDD, so its own work
    shows only there.  Calls made while a ``build_once`` fixture is
    built are not recorded; the fixture is the query's untimed setup,
    not its plan."""
    local_checkpoint, fixture_build = DataFrame.localCheckpoint, build_once
    in_fixture = [False]

    def recording(df, *args, **kwargs):
        if not in_fixture[0]:
            CHECKPOINTED.append(plan_metrics(df))
        return local_checkpoint(df, *args, **kwargs)

    def unrecorded_build_once(*args, **kwargs):
        outer, in_fixture[0] = in_fixture[0], True
        try:
            return fixture_build(*args, **kwargs)
        finally:
            in_fixture[0] = outer

    DataFrame.localCheckpoint = recording
    for module in list(sys.modules.values()):
        if getattr(module, "build_once", None) is fixture_build:
            module.build_once = unrecorded_build_once


def audit_query(fn, spark, sf_dir: str) -> dict:
    """``plan_metrics`` of the query's result, plus, under
    ``"checkpointed"``, those of every DataFrame it checkpointed while
    it was built."""
    CHECKPOINTED.clear()
    metrics = plan_metrics(fn(spark, sf_dir))
    if CHECKPOINTED:
        metrics["checkpointed"] = list(CHECKPOINTED)
    return metrics


def plans(metrics: dict) -> list[dict]:
    """The query's own plan and every plan it checkpointed."""
    return [metrics, *metrics.get("checkpointed", [])]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(app_name="plan-audit")
    out: dict[str, dict] = {}
    registry = all_queries()
    record_checkpoints()
    for name, fn in registry.items():
        try:
            out[name] = audit_query(fn, spark, sf_dir)
        except Exception as exc:  # pragma: no cover - audit tool resilience
            out[name] = {"error": str(exc)[:200]}
        release_cached_state(spark)
    # Every total and list below counts the checkpointed plans too.
    n_cart = [
        n for n, m in out.items() if any(p.get("has_cartesian") for p in plans(m))
    ]
    # Intentional cartesians, each documented small-by-contract: the
    # PQ-ADC lookup table IS a cross product by construction —
    # |queries| × (M·K codewords), both sides driver-literal or
    # query-set-small (8 × 128 = 1,024 rows here), executed as a
    # BroadcastNestedLoopJoin.  Jégou et al.'s ADC has no equi-key to
    # join on; flagging it would push the code toward a fake constant
    # join key that silences the detector without changing the work.
    # Anything NOT in this list is an accidental cartesian and stays a
    # hard flag.
    allowed_cart = {
        "ann_pq_adc_topk",
        "ann_pq_trained_topk",
        "ann_ivfadc_topk",
        "ann_ivfadc_residual_topk",
        # composes ivfadc_topk stage 1, inheriting the same LUT build
        "ann_ivfadc_refine_topk",
        # same operator, predicate leg — same LUT build
        "ann_ivfadc_filtered_topk",
    }
    unexpected = [n for n in n_cart if n not in allowed_cart]

    def total(key: str) -> int:
        return sum(p.get(key, 0) for m in out.values() for p in plans(m))

    summary = {
        "n_queries": len(out),
        "n_with_cartesian": len(n_cart),
        "cartesian_queries": n_cart,
        "allowed_cartesians": sorted(set(n_cart) & allowed_cart),
        "allowed_cartesian_reason": (
            "PQ-ADC LUT build: queries x (M*K) codewords cross product "
            "by construction, both sides small by contract (8 x 128 "
            "rows), broadcast"
        ),
        "n_with_unexpected_cartesian": len(unexpected),
        "unexpected_cartesian_queries": unexpected,
        "total_exchanges": total("n_exchanges"),
        "total_broadcast_joins": total("n_broadcast_joins"),
        "total_sort_merge_joins": total("n_sort_merge_joins"),
    }
    with open(os.path.join(REPO, "PLAN_AUDIT.json"), "w") as f:
        json.dump({"summary": summary, "queries": out}, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
