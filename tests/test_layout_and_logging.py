"""Storage layout (partition pruning, bucketed zero-shuffle joins),
JSON logging, and a Hypothesis property test of the curate pipeline
against an independent pure-Python model."""

from __future__ import annotations

import io
import json
import logging
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.logging_util import (
    EcsJsonFormatter,
    configure_json_logging,
)
from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
    curate_orders,
    parse_json_events,
)
from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
    write_bucketed_table,
    write_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_write_prunes(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_table(orders, str(tmp_path / "t"), partition_by=["o_year"])
    back = spark.read.parquet(str(tmp_path / "t")).filter(F.col("o_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # Partition pruning: the year filter must land in PartitionFilters,
    # not be applied post-scan.
    assert "PartitionFilters: [" in plan and "o_year" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == orders.filter(F.col("o_year") == 1995).count()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import shutil

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)  # stale dirs from prior runs
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], 4, sort_by=["o_orderkey"])
    write_bucketed_table(
        lineitem, "b_lineitem", ["l_orderkey"], 4, sort_by=["l_orderkey"]
    )
    joined = spark.table("b_lineitem").join(
        spark.table("b_orders").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # Co-located bucketed join: no shuffle on either side.
    assert "Exchange" not in plan, plan
    assert joined.count() == 6000


def test_ecs_json_logging():
    logger = configure_json_logging("test_ecs_logger")
    stream = io.StringIO()
    handler = logging.StreamHandler(stream)
    handler.setFormatter(EcsJsonFormatter())
    logger.addHandler(handler)
    logger.info("stage ok", extra={"event": {"stage": "join", "rows": 42}})
    doc = json.loads(stream.getvalue())
    assert doc["message"] == "stage ok"
    assert doc["log.level"] == "info"
    assert doc["event"] == {"stage": "join", "rows": 42}


# ---------------------------------------------------------------------------
# Property test: curate pipeline ≡ independent Python model
# ---------------------------------------------------------------------------

order_events = st.fixed_dictionaries(
    {
        "order_id": st.integers(min_value=0, max_value=2**31 - 1),
        "order_total": st.floats(
            min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        "ship_to_city_id": st.integers(min_value=0, max_value=200),
        "customer_id": st.integers(min_value=0, max_value=10000),
        "ship_method": st.sampled_from(["Express", "Ground", "Air"]),
        "order_number": st.text(
            alphabet="ABC0123456789-", min_size=1, max_size=12
        ),
        "discount_applied": st.floats(
            min_value=0, max_value=100, allow_nan=False, allow_infinity=False
        ),
        "order_date": st.datetimes(),
    }
)


def python_curate(ev: dict) -> dict:
    """Independent reimplementation of the curated projection
    (the hypothesis oracle — deliberately not Spark)."""
    date_str = ev["order_date"].strftime("%Y-%m-%d %H:%M:%S")
    num = ev["order_number"]
    return {
        "order_number": num,
        "discounted_total": ev["order_total"]
        - (ev["discount_applied"] / 100.0) * ev["order_total"],
        "data_key": f"{num}-{date_str[:10]}",
        "fufilment_type": "Bexley" if (len(num) >= 6 and num[5] == "3") else "Merchant",
    }


@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(st.lists(order_events, min_size=1, max_size=20))
def test_curate_matches_python_model(spark, events):
    payloads = []
    for ev in events:
        payload = dict(ev)
        payload["order_date"] = ev["order_date"].strftime("%Y-%m-%d %H:%M:%S")
        payloads.append((json.dumps(payload),))
    df = spark.createDataFrame(payloads, ["value"])
    got = curate_orders(parse_json_events(df)).collect()
    want = [python_curate(ev) for ev in events]
    got_set = sorted(
        (r["order_number"], r["data_key"], r["fufilment_type"], r["discounted_total"])
        for r in got
    )
    want_set = sorted(
        (w["order_number"], w["data_key"], w["fufilment_type"], w["discounted_total"])
        for w in want
    )
    assert got_set == want_set


def test_srp_bucket_partition_pruning(spark, tmp_path):
    """The ANN scale story end-to-end: lay the corpus down partitioned
    by SRP bucket, and a bucket-filtered read must prune partitions at
    the scan (PartitionFilters), not post-filter rows."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import srp_bucket
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding", srp_bucket("embedding", dim=64, num_planes=3).alias("bucket")
    )
    path = str(tmp_path / "emb_by_bucket")
    write_table(emb, path, partition_by=["bucket"])

    back = spark.read.parquet(path).filter(F.col("bucket") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    n_all = spark.read.parquet(path).count()
    n_pruned = back.count()
    assert 0 < n_pruned < n_all

def test_overwrite_partitions_touches_only_present_partitions(spark, tmp_path):
    """Dynamic partition overwrite: re-landing one partition's data
    must replace that partition and leave every other one intact —
    the daily-incremental-load contract."""
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
        write_table,
    )

    path = str(tmp_path / "inc")
    full = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-01-02", 30.0)],
        ["id", "day", "v"],
    )
    write_table(full, path, partition_by=["day"])
    relanded = spark.createDataFrame([(9, "2024-01-02", 99.0)], ["id", "day", "v"])
    overwrite_partitions(relanded, path, partition_by=["day"])
    back = {
        (r["id"], r["day"], r["v"])
        for r in spark.read.parquet(path)
        # partition-value inference types `day` as DATE; normalize back
        .select("id", F.col("day").cast("string").alias("day"), "v")
        .collect()
    }
    # day=2024-01-01 untouched; day=2024-01-02 fully replaced
    assert back == {(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0),
                    (9, "2024-01-02", 99.0)}
    with pytest.raises(ValueError):
        overwrite_partitions(relanded, path, partition_by=[])


def test_compact_table_hits_file_target_and_preserves_rows(spark, tmp_path):
    from pathlib import Path

    from spark_streaming_kafka2elasticsearch_spark.sources.writer import compact_table

    path = str(tmp_path / "shards")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(path)  # simulate small-file accretion
    n_before = len(list(Path(path).glob("*.parquet")))
    assert n_before == 16
    compact_table(spark, path, target_files=2)
    assert len(list(Path(path).glob("*.parquet"))) == 2
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 999 * 1000
    with pytest.raises(ValueError):
        compact_table(spark, path, target_files=0)


def _py_morton(x, y, bits=16):
    k = 0
    for i in range(bits):
        k |= ((x >> i) & 1) << (2 * i)
        k |= ((y >> i) & 1) << (2 * i + 1)
    return k


def test_zorder_key_matches_python_reference(spark):
    from spark_streaming_kafka2elasticsearch_spark.functions.zorder import zorder_key

    pts = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key("x", "y").alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton(x, y), (x, y)
    with pytest.raises(ValueError):
        zorder_key("x", "y", bits=0)


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """The point of z-ordering: range-partition a 64×64 grid into 16
    files by Morton key and every file covers a small 2-D tile, so
    min/max footer stats prune on EITHER dimension.  A linear sort by
    x gives narrow x-ranges but each file spans the FULL y range."""
    from pathlib import Path

    from spark_streaming_kafka2elasticsearch_spark.functions.zorder import zorder_key

    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], ["x", "y"]
    )

    def per_file_area(path):
        areas = []
        for f in Path(path).glob("*.parquet"):
            pdf = spark.read.parquet(str(f)).agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y")
            ).collect()[0]
            areas.append((pdf[1] - pdf[0] + 1) * (pdf[3] - pdf[2] + 1))
        return areas

    zpath = str(tmp_path / "zord")
    (
        grid.repartitionByRange(16, zorder_key("x", "y", bits=6))
        .sortWithinPartitions(zorder_key("x", "y", bits=6))
        .write.parquet(zpath)
    )
    lpath = str(tmp_path / "linear")
    grid.repartitionByRange(16, "x").write.parquet(lpath)

    # Perfect 16-way z-tiling of a 64×64 grid = 16×16 tiles (area 256).
    assert max(per_file_area(zpath)) <= 2 * 256
    # Linear layout: every file spans all 64 y values.
    assert min(per_file_area(lpath)) >= 64 * 4


def test_s3a_conf_lands_in_session():
    """I2 — enable_s3a=True must surface the S3A filesystem conf in
    the live session (reference bexley_spark_stream_msk_es.py:118-124).  Runs in a
    subprocess because getOrCreate would otherwise reuse the suite's
    session and silently skip builder conf."""
    import subprocess
    import sys

    code = (
        "from spark_streaming_kafka2elasticsearch_spark.session import build_session\n"
        "spark = build_session(master='local[1]', app_name='s3aprobe',"
        " enable_s3a=True)\n"
        "print('IMPL=' +"
        " spark.conf.get('spark.hadoop.fs.s3a.impl'))\n"
        "print('UPLOAD=' +"
        " spark.conf.get('spark.hadoop.fs.s3a.fast.upload'))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert "IMPL=org.apache.hadoop.fs.s3a.S3AFileSystem" in out.stdout
    assert "UPLOAD=true" in out.stdout


def test_driver_contract_loads_from_foreign_cwd():
    """The external driver loads __spark_entry__.py by file path from
    an arbitrary cwd.  mapInPandas kernels pickle BY REFERENCE to the
    package, so executor Python workers must import it without the
    repo being the cwd — entry()/queries() ship the package via
    addPyFile.  This subprocess reproduces the exact foreign-cwd load
    and runs a worker-dependent (mapInPandas) query end-to-end."""
    import subprocess
    import sys

    entry = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    code = (
        "import importlib.util\n"
        "spec = importlib.util.spec_from_file_location("
        f"'__spark_entry__', {entry!r})\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')"
        ".config('spark.sql.shuffle.partitions', '2').getOrCreate())\n"
        "assert mod.entry(spark).count() > 0\n"
        "q = mod.queries()['multimodal_image_decode_real']\n"
        "print('WORKER_ROWS=' + str(q(spark, '/root/testdata/sf0.001').count()))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=180,
        cwd="/tmp",
    )
    assert out.returncode == 0, out.stderr[-800:]
    assert "WORKER_ROWS=" in out.stdout
    rows = int(out.stdout.split("WORKER_ROWS=")[1].split()[0])
    assert rows > 0


def test_observed_quality_metrics_ride_the_write(spark, tmp_path):
    """with_observed_quality attaches null/row metrics to the write's
    own scan (df.observe): after the single write action the
    Observation holds the exact counts — no second aggregate job over
    the data, which is the operator's entire point at scale."""
    from spark_streaming_kafka2elasticsearch_spark.operators.quality import (
        with_observed_quality,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], ["k", "v"]
    )
    observed, obs = with_observed_quality(df, "load_gate", ["v", "k"])
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 4
    assert got["n_null_v"] == 2
    assert got["n_null_k"] == 0
    # and the written data is unaffected by the observation
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_priority_rotation_list_is_duplicate_free_and_resolves():
    """The driver-cap rotation list must stay honest bookkeeping
    (ADVICE r7): a duplicate entry silently shifts every later query's
    rotation slot, and a stale name that no longer resolves to a
    registered query wastes a slot in the ~50-query driver sample."""
    from spark_streaming_kafka2elasticsearch_spark.queries import (
        _PRIORITY,
        all_queries,
    )

    assert len(set(_PRIORITY)) == len(_PRIORITY), sorted(
        x for x in set(_PRIORITY) if _PRIORITY.count(x) > 1
    )
    unknown = [q for q in _PRIORITY if q not in all_queries()]
    assert not unknown, unknown
