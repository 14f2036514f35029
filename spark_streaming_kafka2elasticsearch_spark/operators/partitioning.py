"""Plan-shape helpers: scan fan-out and the per-group top-k cut.

**Scan fan-out (guide §2.2/§6).**  A sub-128 MB parquet table arrives
as ONE scan split (``spark.sql.files.maxPartitionBytes``), and a
single-row-group file cannot be split further — so every
hash/tokenize/decode-heavy stage chained directly on such a scan runs
as ONE task regardless of core count.  At the bench scale factors the
documents/embeddings tables are exactly that shape, and the r14
scaling block measured the resulting inversions (whole families faster
at 8 cores than 32, decode ratios 0.29–0.33).

:func:`fan_out_small_scan` repartitions the (small by construction)
input across the session's task slots BEFORE the heavy per-row work.
It is scale-adaptive, never a constant: a source that already has
``defaultParallelism`` or more partitions is returned untouched — on a
real 100 TB corpus the scan is already parallel and this is a no-op —
and only the narrow pre-explode rows ever move.  Round-robin
repartition is retry-safe (``spark.sql.execution.sortBeforeRepartition``
stays on), and every consumer below it is a set-semantics aggregation
or deterministically tie-broken window, so results are
partitioning-independent (pinned by the oracle gate).

Fan-out sites include the four batch callers of
``operators/text.kn_doc_scores`` in ``queries/datapipe.py``
(``kn_perplexity_quality_gate``, ``kn_lm_index_gate_served``,
``kn_lm_index_append_gate``, ``kn_lm_index_delete_gate``): without it
their scoring stage (tokenize, explode, model join, per-doc decimal
sum) over the one-split ``documents`` scan runs as one task.  On the
5 000-document benchmark table (4 cores, 11 interleaved rounds each,
the ``getNumPartitions`` check included), off / on medians: the
append gate 2.13 / 1.63 s (1.31×, 10 of 11 rounds won), the quality
gate 2.26 / 1.77 s (1.28×, 11 of 11), the served gate 1.70 / 1.20 s
(1.41×, 11 of 11), the delete gate 1.57 / 1.11 s (1.41×, 11 of 11).
``kn_doc_scores`` itself does not fan out: the streaming gate
(``streaming/jobs.kn_perplexity_gate_stream``) keeps its per-batch
plan.

**Top-k cut.**  :func:`top_k_per` is the one spelling of "keep each
group's best k rows"; see its docstring for the plan it relies on.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff it currently
    has fewer partitions — the narrow-input fan-out for CPU-bound
    stages.  See the module docstring for the contract."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # The executed plan's RDD, not ``df.rdd``: no Python RDD is built.
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)


def top_k_per(
    df: DataFrame,
    keys: Sequence[str | Column],
    order: Sequence[str | Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep each ``keys`` group's first ``k`` rows by ``order``, numbered
    1..k in ``rank_col`` (``row_number``, an int).

    The local top-k before the shuffle is Catalyst's job, not the
    caller's: a literal ``rank_col <= k`` filter directly above a lone
    ``row_number`` window, with ``k`` at most
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
    default), plans a ``WindowGroupLimit … Partial`` on each input
    partition before the exchange and a ``… Final`` after it — so only
    |partitions|·k rows per group cross the shuffle.  ``order`` must be
    a total order (tie-broken by an id) for the cut to be
    deterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
