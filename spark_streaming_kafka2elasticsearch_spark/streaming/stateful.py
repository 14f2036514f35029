"""Stateful streaming operators: first-seen dedup on the built-in state
store, and per-key state machines via ``applyInPandasWithState``.

The reference's streaming surface needs no custom state (its windowed
agg rides Spark's built-in state store), and neither does a
training-data ingest pipeline's **cross-batch streaming dedup** — emit
a document the first time its key is ever seen, drop every later
delivery: a streaming ``dropDuplicates`` WITHOUT a watermark keeps
every key it has seen in the checkpointed state store (RocksDB under
the engine's default session conf) for the life of the query, which
is exactly forever-dedup (a watermark only adds eviction of old keys,
and ``dropDuplicatesWithinWatermark`` trades exactness for bounded
state).  :func:`streaming_first_seen` is that built-in operator.  The
per-key state machines below (changelog, z-score, funnel) are what
built-ins cannot express, so they use ``applyInPandasWithState``.

Delivery composes with the keyed-upsert sink (streaming/sinks.py): the
sink makes redelivery idempotent by overwrite, first-seen dedup makes
it idempotent by suppression — first-wins vs last-wins, both
exactly-once effective.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def streaming_first_seen(
    df: DataFrame,
    key_col: str,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """First-seen-wins streaming dedup on ``key_col``.

    Emits, per key, exactly the first row ever delivered; every
    subsequent delivery of the same key — same batch or any later
    batch — is suppressed.  A streaming ``dropDuplicates`` with no
    watermark keeps each seen key in the state store for the life of
    the query, so the dedup is exact forever.

    Output schema: ``key_col`` + ``value_cols`` (default: every other
    column of ``df``), in that order; ``append`` output mode.
    """
    if value_cols is None:
        value_cols = [f.name for f in df.schema.fields if f.name != key_col]
    return df.dropDuplicates([key_col]).select(key_col, *value_cols)


#: per-key changelog state: running total + row count.
_CHANGELOG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.DoubleType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def streaming_keyed_changelog(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """CDC-style per-key changelog: each micro-batch emits, per touched
    key, ONE row ``(key, old_total, new_total, n_events)`` carrying the
    running sum before and after the batch.  Built-in streaming aggs
    can emit the new value (update mode) but never the old→new
    transition in append mode — the delta view a downstream cache
    invalidator or incremental materialization consumes.

    State is one (double, long) cell per key in the checkpointed store
    (RocksDB under the engine session), so memory is |keys| × 16 bytes
    — the same bound the built-in agg would hold.  Batch-internal sums
    use pandas' float64 sum; exactly like the built-in double sum the
    result is order-sensitive at the ulp level, so treat totals as
    measures, not join keys.

    Note: Spark 4's ``transformWithStateInPandas`` expresses the same
    processor with finer state primitives (ValueState/ListState/
    timers); this engine pins the ``applyInPandasWithState`` form
    because TWS's Python state server needs ``protobuf``, absent in
    the build sandbox — tests/test_streaming.py's probe documents the
    boundary and the operator semantics are API-agnostic.
    """
    out_schema = T.StructType(
        [
            df.schema[key_col],
            T.StructField("old_total", T.DoubleType(), False),
            T.StructField("new_total", T.DoubleType(), False),
            T.StructField("n_events", T.LongType(), False),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd_

        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        batch_sum, batch_cnt = 0.0, 0
        for pdf in pdfs:
            batch_sum += float(pdf[value_col].sum())
            batch_cnt += len(pdf)
        old_total, old_cnt = state.get if state.exists else (0.0, 0)
        new_total, new_cnt = old_total + batch_sum, old_cnt + batch_cnt
        state.update((new_total, new_cnt))
        yield pd_.DataFrame(
            {
                key_col: [key[0]],
                "old_total": [old_total],
                "new_total": [new_total],
                "n_events": [new_cnt],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        _CHANGELOG_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


#: per-key Welford state: (count, mean, M2).
_WELFORD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("mean", T.DoubleType(), False),
        T.StructField("m2", T.DoubleType(), False),
    ]
)


def streaming_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    z_threshold: float = 3.0,
    min_baseline: int = 10,
) -> DataFrame:
    """Streaming anomaly detection: per-key running mean/variance via
    Welford's online algorithm, each event scored against the state
    *before* it arrived — an event can never vouch for itself, and a
    burst of outliers is judged against the pre-burst baseline, not
    absorbed into it mid-batch.  Events are emitted (append mode) only
    once the key has ``min_baseline`` prior observations and
    ``|z| > z_threshold``.

    State is (n, mean, M2) — 24 bytes per key in the checkpointed
    store regardless of stream length — and Welford is numerically
    stable where the naive sum-of-squares cancels catastrophically.
    This is the streaming twin of the batch ``event_value_anomalies``
    query (global z-score over history) re-expressed as O(1)-state
    incremental maintenance.
    """
    out_schema = T.StructType(
        [
            df.schema[key_col],
            df.schema[id_col],
            T.StructField("value", T.DoubleType(), True),
            T.StructField("zscore", T.DoubleType(), True),
            T.StructField("baseline_n", T.LongType(), False),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import math

        import pandas as pd_

        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        out = {key_col: [], id_col: [], "value": [], "zscore": [], "baseline_n": []}
        for pdf in pdfs:
            for rid, x in zip(pdf[id_col], pdf[value_col]):
                xv = float(x)
                # score against the PRE-update baseline
                if n >= min_baseline and m2 > 0:
                    std = math.sqrt(m2 / (n - 1))
                    z = (xv - mean) / std if std > 0 else 0.0
                    if abs(z) > z_threshold:
                        out[key_col].append(key[0])
                        out[id_col].append(rid)
                        out["value"].append(xv)
                        out["zscore"].append(z)
                        out["baseline_n"].append(n)
                # Welford fold
                n += 1
                d = xv - mean
                mean += d / n
                m2 += d * (xv - mean)
        state.update((n, mean, m2))
        if out[key_col]:
            yield pd_.DataFrame(out)

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        _WELFORD_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


#: per-key funnel state: furthest stage reached + its event times.
_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.IntegerType(), False),  # 0 none, 1 viewed, 2 clicked
        T.StructField("v_us", T.LongType(), True),
        T.StructField("c_us", T.LongType(), True),
        T.StructField("converted", T.BooleanType(), False),
    ]
)


def streaming_funnel_conversions(
    df: DataFrame,
    key_col: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    stages: Sequence[str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming strict-order funnel: per key, emit ONE row the moment
    the three-stage sequence ``stages`` completes in event-time order
    (view < click < purchase) — the streaming twin of the batch
    ``purchase_funnel`` query, re-expressed as an O(1)-state machine.

    State per key is 3 ints + a flag: the furthest stage reached and
    the event times that got there.  Each micro-batch's rows are
    processed in event-time order WITHIN the group (sorted per Arrow
    batch); the machine only advances forward, so duplicate deliveries
    are idempotent and a regressed event (a second view after a click)
    is a no-op rather than a reset.  Cross-batch late data: an event
    older than the state it would have advanced is dropped — the same
    bounded-disorder trade every watermark-based operator makes; run
    the batch funnel over the at-rest table for the exact
    retrospective answer.

    Output (append mode): key, view/click/purchase timestamps (µs) and
    the total ms from first view to conversion.  Emitted at most once
    per key — ``converted`` latches, so redelivered purchases don't
    double-count conversions downstream.
    """
    out_schema = T.StructType(
        [
            df.schema[key_col],
            T.StructField("view_us", T.LongType(), False),
            T.StructField("click_us", T.LongType(), False),
            T.StructField("purchase_us", T.LongType(), False),
            T.StructField("ms_to_convert", T.LongType(), False),
        ]
    )
    s_view, s_click, s_buy = stages

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd_

        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        stage, v_us, c_us, converted = (
            state.get if state.exists else (0, None, None, False)
        )
        hits = []
        # Concatenate the group's Arrow chunks and sort ONCE across
        # the whole micro-batch (r6 advisory): sorting per chunk let a
        # purchase delivered in an earlier chunk than its click be
        # processed first, and the forward-only machine then missed
        # the conversion permanently.  Group volume per micro-batch is
        # bounded by the trigger, so the concat is small by contract.
        chunks = [] if converted else list(pdfs)
        if chunks:
            batch = (
                chunks[0]
                if len(chunks) == 1
                else pd_.concat(chunks, ignore_index=True)
            )
            batch = batch.sort_values(ts_col)
            for et, ts in zip(batch[type_col], batch[ts_col]):
                us = int(ts.value // 1_000) if hasattr(ts, "value") else int(ts)
                if stage == 0 and et == s_view:
                    stage, v_us = 1, us
                elif stage == 1 and et == s_click and us > v_us:
                    stage, c_us = 2, us
                elif stage == 2 and et == s_buy and us > c_us:
                    hits.append((key[0], v_us, c_us, us, (us - v_us) // 1_000))
                    converted = True
                    break
        state.update((stage, v_us, c_us, converted))
        if hits:
            yield pd_.DataFrame(
                hits,
                columns=[
                    key_col, "view_us", "click_us", "purchase_us", "ms_to_convert"
                ],
            )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        _FUNNEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
