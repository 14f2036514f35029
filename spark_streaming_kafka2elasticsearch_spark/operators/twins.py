"""The one gate for driver twins and Arrow kernels (guide §2.4 / §4.2).

A *driver twin* replays an iterative Spark loop (connected components,
PageRank, BPE training, NN-Descent, beam search, ...) as numpy over
state collected to the driver; an *Arrow kernel* replaces an
interpreted per-row fold with one ``mapInArrow`` pass.  Both are fast
paths: each has a distributed leg that is the semantics reference, and
a fast path may only run when it returns exactly what that leg would.

This module owns the decision "may this input take the fast path?":

* :func:`enabled` — the single kill switch ``SPARK_GRAFT_TWINS=0``,
  which sends every operator down its distributed leg;
* :func:`_pair_score_broadcast_bytes` — the collect ceiling, tunable
  through ``SPARK_GRAFT_PAIR_SCORE_BROADCAST_BYTES``;
* :func:`collect_ids` / :func:`collect_vectors` — the bounded driver
  collects of id and ``(id, vector, norm)`` state, which return
  ``None`` on any input a fast path cannot represent exactly;
* the packed-pair and CSR helpers the twins share.

It imports nothing from the operator modules, so every operator can
import it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Collected-state byte ceiling below which a twin or kernel may pull
#: its state to the driver.  The gate is DATA-SIZE derived (rows ·
#: bytes per row), never a core-count constant: at 100 TB the state
#: blows the ceiling and the distributed leg runs unchanged.
#: Env-tunable for clusters with bigger drivers.
_PAIR_SCORE_BROADCAST_BYTES = 64 << 20

#: Pair packing (:func:`_pack_pairs`) puts two ids in one int64, so
#: every collected id must lie in ``[0, 2**31)``.
_ID_LIMIT = 1 << 31


def enabled() -> bool:
    """False iff ``SPARK_GRAFT_TWINS=0``: every twin and kernel then
    declines and the distributed leg runs."""
    return os.environ.get("SPARK_GRAFT_TWINS", "1") != "0"


def _pair_score_broadcast_bytes() -> int:
    return int(
        os.environ.get(
            "SPARK_GRAFT_PAIR_SCORE_BROADCAST_BYTES",
            str(_PAIR_SCORE_BROADCAST_BYTES),
        )
    )


def _integral_id_cols(df: DataFrame, *cols: str) -> bool:
    """True iff every named column is a Catalyst integral type.  A
    double id cast to int64 silently TRUNCATES (2.5 → 2), which would
    give wrong twin output where the join path is exact; the schema
    check costs no job."""
    return all(
        isinstance(
            df.schema[c].dataType,
            (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
        )
        for c in cols
    )


def _in_id_range(arr) -> bool:
    return not len(arr) or (arr.min() >= 0 and arr.max() < _ID_LIMIT)


def collect_ids(df: DataFrame, *cols: str):
    """Bounded collect of integral id columns: a tuple of int64 numpy
    arrays, one per column in row order (multiplicity kept), or None
    when the switch is off, a column is not integral (checked before
    any job), the relation holds more than ceiling / (8 · len(cols))
    rows, or a value is NULL or outside ``[0, 2**31)``."""
    if not enabled() or not _integral_id_cols(df, *cols):
        return None
    cap = _pair_score_broadcast_bytes() // (8 * len(cols))
    tbl = df.select(*cols).limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        return None
    out = []
    for i in range(len(cols)):
        col = tbl.column(i)
        if col.null_count:
            return None
        arr = col.to_numpy().astype(np.int64)
        if not _in_id_range(arr):
            return None
        out.append(arr)
    return tuple(out)


def collect_vectors(df: DataFrame, id_col: str, extra=(), dim=None):
    """Bounded collect of ``(id_col, _v, _n, *extra)`` vector state,
    sorted by id: a dict with ``ids`` (int64), ``mat`` (float64,
    n × dim), ``norms`` (float64) and each ``extra`` column as a
    pyarrow array in the same order — or None when the switch is off,
    ``id_col`` is not integral, the relation is empty or holds more
    than ceiling / ((dim + 2) · 8) rows, or an id, vector, element or
    norm is NULL, a vector's length is not ``dim``, or an id repeats.
    Without ``dim`` the first vector's length is probed with
    ``take(1)``."""
    if not enabled() or not _integral_id_cols(df, id_col):
        return None
    if dim is None:
        head = df.select("_v").take(1)
        if not head or head[0]["_v"] is None:
            return None
        dim = len(head[0]["_v"])
    cap = _pair_score_broadcast_bytes() // ((dim + 2) * 8)
    tbl = df.select(id_col, "_v", "_n", *extra).limit(cap + 1).toArrow()
    n = tbl.num_rows
    if n == 0 or n > cap:
        return None
    vec = tbl.column("_v").combine_chunks()
    flat = vec.flatten()
    if (
        tbl.column(id_col).null_count
        or tbl.column("_n").null_count
        or vec.null_count
        or flat.null_count
        or (pc.list_value_length(vec).to_numpy(zero_copy_only=False) != dim).any()
    ):
        return None
    ids = tbl.column(id_col).to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    if (ids[1:] == ids[:-1]).any():
        return None
    mat = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)[order]
    out = dict(
        ids=ids,
        mat=mat,
        norms=tbl.column("_n").to_numpy().astype(np.float64)[order],
    )
    for c in extra:
        out[c] = tbl.column(c).take(order)
    return out


def _pack_pairs(a, b):
    """(src, dst) -> one sortable int64 key; requires 0 <= id < 2^31
    (checked by :func:`collect_ids`)."""
    return (a.astype("int64") << 32) | b.astype("int64")


def _isin_sorted(x, sorted_arr):
    if len(sorted_arr) == 0:
        return np.zeros(len(x), dtype=bool)
    pos = np.searchsorted(sorted_arr, x)
    np.clip(pos, 0, len(sorted_arr) - 1, out=pos)
    return sorted_arr[pos] == x


def _csr_gather(keys, indptr, values, lookup):
    """For each element of ``lookup``, the concatenated ``values``
    segment of its key (empty when absent).  Returns
    ``(seg_owner_index, gathered_values, extra_per_key)`` where
    ``seg_owner_index[i]`` is the index into ``lookup`` owning row i.
    ``extra_per_key`` is the per-lookup segment length."""
    if len(keys) == 0:
        cnt = np.zeros(len(lookup), dtype=np.int64)
        return np.empty(0, dtype=np.int64), values[:0], cnt
    pos = np.searchsorted(keys, lookup)
    np.clip(pos, 0, len(keys) - 1, out=pos)
    found = keys[pos] == lookup
    starts = np.where(found, indptr[pos], 0)
    cnt = np.where(found, indptr[pos + 1] - indptr[pos], 0)
    total = int(cnt.sum())
    if total == 0:
        return (
            np.empty(0, dtype=np.int64),
            values[:0],
            cnt,
        )
    offs = np.cumsum(cnt) - cnt
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(offs, cnt)
        + np.repeat(starts, cnt)
    )
    owner = np.repeat(np.arange(len(lookup), dtype=np.int64), cnt)
    return owner, values[idx], cnt
