"""Event-time window aggregation (SURVEY.md §2.4, A1–A3).

The reference's (authored-but-disabled) path: cast the event-time
string to timestamp, bound state with a 2-minute watermark, group by a
2-minute tumbling window + a key, count, sort by window
(``transform_tumbling_window``, reference
``bexley_spark_stream_msk_es.py:441-458``).

These helpers work on both batch and streaming frames — ``window()``
is the same Catalyst expression either way, which is how we give the
streaming path a DuckDB-checkable batch oracle.

Scale notes: a windowed count is a partial (map-side) hash aggregate,
a shuffle on (window, keys), and a final merge — the shuffle carries
only partial aggregates, not raw events, so volume into the exchange
is bounded by |windows|×|keys| per task.  In streaming, the watermark
is what bounds state: without it, state grows without bound at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] | None = None,
    watermark: str | None = None,
    sort_by_window: bool = False,
) -> DataFrame:
    """A1+A2+A3 — watermarked tumbling-window aggregation.

    Parity default: ``aggs=[F.count(...).alias("total_orders")]`` over a
    2-minute window (reference ``:448``).  ``sort_by_window`` adds the
    reference's ``orderBy("window")`` — on a stream that is only legal
    in complete output mode, exactly as the reference's console writer
    uses (``:470``).
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("total_orders")]
    grouped = df.groupBy(F.window(F.col(ts_col), width), *[F.col(k) for k in keys])
    out = grouped.agg(*aggs)
    if sort_by_window:
        out = out.orderBy("window")
    return out


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window variant (beyond the reference: same primitive,
    ``window(ts, width, slide)`` — each event lands in width/slide windows)."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("total_events")]
    grouped = df.groupBy(F.window(F.col(ts_col), width, slide), *[F.col(k) for k in keys])
    return grouped.agg(*aggs)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based; beyond the reference's surface)."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("total_events")]
    grouped = df.groupBy(F.session_window(F.col(ts_col), gap), *[F.col(k) for k in keys])
    return grouped.agg(*aggs)
