"""The twin gate (operators/twins.py): each input a driver twin or
Arrow kernel cannot represent exactly makes the bounded collects
return None, so the operator runs its distributed leg instead."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators import twins
from spark_streaming_kafka2elasticsearch_spark.operators.twins import (
    collect_ids,
    collect_vectors,
)

VEC_SCHEMA = "_id long, _v array<double>, _n double, _b long"


def test_collect_ids_accepts_largest_packable_id(spark):
    df = spark.createDataFrame([(2**31 - 1, 0), (5, 7)], "src long, dst int")
    src, dst = collect_ids(df, "src", "dst")
    assert src.dtype == dst.dtype == np.int64
    assert src.tolist() == [2**31 - 1, 5]
    assert dst.tolist() == [0, 7]


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, None)], "src long, dst long"),  # NULL id
        ([(1.0, 2.0)], "src double, dst double"),  # double id column
        ([(1, 2**31)], "src long, dst long"),  # id 2**31
        ([(-1, 2)], "src long, dst long"),  # negative id
    ],
    ids=["null", "double", "id_2_31", "negative"],
)
def test_collect_ids_rejects(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    assert collect_ids(df, "src", "dst") is None


def test_collect_ids_rejects_rank_2_31(spark):
    # the maintain-op edge list: rank is range-checked before the
    # int32 cast instead of wrapping
    df = spark.createDataFrame([(1, 2, 2**31)], "src long, dst long, rank long")
    assert collect_ids(df, "src", "dst", "rank") is None


def test_collect_vectors_sorts_state_by_id(spark):
    df = spark.createDataFrame(
        [(9, [0.0, 2.0], 2.0, None), (3, [1.0, 0.0], 1.0, 4)], VEC_SCHEMA
    )
    st = collect_vectors(df, "_id", extra=("_b",))
    assert st["ids"].tolist() == [3, 9]
    assert st["mat"].tolist() == [[1.0, 0.0], [0.0, 2.0]]
    assert st["norms"].tolist() == [1.0, 2.0]
    assert st["_b"].to_pylist() == [4, None]


@pytest.mark.parametrize(
    "rows",
    [
        [(1, [1.0, 0.0], 1.0, 0), (1, [0.0, 1.0], 1.0, 0)],  # duplicate id
        [(None, [1.0, 0.0], 1.0, 0)],  # NULL id
        [(1, [1.0, 0.0], 1.0, 0), (2, None, 1.0, 0)],  # NULL vector
        [(1, [1.0, None], 1.0, 0)],  # NULL element
        [(1, [1.0, 0.0], None, 0)],  # NULL norm
        [(1, [1.0, 0.0], 1.0, 0), (2, [1.0, 0.0, 0.0], 1.0, 0)],  # ragged
    ],
    ids=["duplicate", "null_id", "null_vector", "null_element", "null_norm",
         "ragged"],
)
def test_collect_vectors_rejects(spark, rows):
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    assert collect_vectors(df, "_id") is None


def test_collect_vectors_rejects_length_other_than_dim(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0], 1.0, 0)], VEC_SCHEMA)
    assert collect_vectors(df, "_id", dim=2) is not None
    assert collect_vectors(df, "_id", dim=3) is None


def test_collects_reject_rows_over_the_ceiling(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PAIR_SCORE_BROADCAST_BYTES", "1024")
    # two int64 ids = 16 bytes/row: 64 rows fit 1 KiB, 65 do not
    pairs = spark.range(65).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    assert collect_ids(pairs.limit(64), "src", "dst") is not None
    assert collect_ids(pairs, "src", "dst") is None
    # dim 2 vectors = (2 + 2) · 8 = 32 bytes/row: 32 rows fit, 33 do not
    vecs = spark.range(33).select(
        F.col("id").alias("_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("_v"),
        F.lit(1.0).alias("_n"),
    )
    assert collect_vectors(vecs.limit(32), "_id") is not None
    assert collect_vectors(vecs, "_id") is None


def test_switch_off_declines_every_collect(spark, monkeypatch):
    ids = spark.createDataFrame([(1, 2)], "src long, dst long")
    vecs = spark.createDataFrame([(1, [1.0, 0.0], 1.0, 0)], VEC_SCHEMA)
    assert twins.enabled()
    monkeypatch.setenv("SPARK_GRAFT_TWINS", "0")
    assert not twins.enabled()
    assert collect_ids(ids, "src", "dst") is None
    assert collect_vectors(vecs, "_id") is None


def test_srp_kernel_drops_all_null_vectors_like_the_fallback(spark, twins):
    """An all-NULL vector has a NULL dot on every plane in the
    distributed leg, so its bucket is NULL and joins nothing.  The
    kernel must emit no bucket for it either: three such rows in the
    real pair's bucket would push it past ``max_bucket_size``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        _plane_signs,
        srp_near_dup_pairs,
    )

    dim = 8
    # s0 + s1 has a non-negative dot with both planes of the one table,
    # so the pair lands in bucket 0b11 — where zeroed NULLs would land
    v = [float(a + b) for a, b in zip(_plane_signs(0, dim), _plane_signs(1, dim))]
    w = [x + 0.01 * (j % 3) for j, x in enumerate(v)]
    nulls = [None] * dim
    df = spark.createDataFrame(
        [(1, v), (2, w), (3, nulls), (4, nulls), (5, nulls)],
        "vec_id long, embedding array<double>",
    )
    got = {}
    for leg in twins:
        pairs = srp_near_dup_pairs(
            df, dim, threshold=0.9, tables=1, planes_per_table=2,
            max_bucket_size=2,
        )
        got[leg] = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert list(got.values()) == [[(1, 2)], [(1, 2)]], got


def test_cell_assign_kernel_sends_element_null_rows_to_lowest_cids(spark, twins):
    """A row with a NULL element has all-NULL sims in Catalyst, so it
    takes the cid-ascending cells — including a zero-norm centroid
    that holds the smallest cid.  Both legs must choose alike."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        _cell_assign_arrow_or_none,
        _fixed_cell_expr,
        _fixed_probe_cells_expr,
    )

    crows = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(
        [(1, [0.0, None, 0.9]), (2, [0.1, 0.9, 0.0]), (3, [0.9, 0.1, 0.0]),
         (4, [None, 0.5, 0.5])],
        "vec_id long, v array<double>",
    )
    got = {}
    for leg in twins:
        one = _cell_assign_arrow_or_none(df, crows, ["vec_id"], "v")
        if one is None:
            one = df.select("vec_id", _fixed_cell_expr(crows, "v").alias("cell"))
        two = df.select("vec_id", _fixed_probe_cells_expr(crows, "v", 2).alias("cell"))
        got[leg] = (
            sorted((r["vec_id"], r["cell"]) for r in one.collect()),
            sorted((r["vec_id"], list(r["cell"])) for r in two.collect()),
        )
    single, probes = list(got.values())[0]
    assert dict(single) == {1: 0, 2: 2, 3: 1, 4: 0}
    assert dict(probes)[1] == [0, 1]
    assert len(set(map(repr, got.values()))) == 1, got
