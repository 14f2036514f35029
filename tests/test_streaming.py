"""Streaming-semantics tests (SURVEY.md §5): end-to-end file-stream
pipeline, idempotent keyed upsert under replay, watermark late-data
behavior with controlled event time.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.curate import curate_orders
from spark_streaming_kafka2elasticsearch_spark.sources.files import JsonDirSource
from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
    orders_enrichment_stream,
    windowed_orders_stats_stream,
)
from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
    KeyedUpsertMemorySink,
    KeyedUpsertParquetSink,
)


def order_event(order_id, order_number, order_date, city=7, total=100.0, disc=0.0):
    return json.dumps(
        {
            "order_id": order_id,
            "order_total": total,
            "ship_to_city_id": city,
            "freight": 1.0,
            "customer_id": 1,
            "ship_method": "Express",
            "order_number": order_number,
            "discount_applied": disc,
            "order_date": order_date,
            "order_basket": [{"order_qty": 1, "product_id": 1, "is_discounted": False}],
        }
    )


def write_batch_file(dirpath, name, lines):
    # Write-then-rename so the file source never reads a partial file.
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
    os.rename(tmp, os.path.join(dirpath, name))


@pytest.fixture()
def cities_dim(spark):
    return spark.createDataFrame([(7, "London"), (8, "Leeds")], ["city_id", "city"])


def test_end_to_end_enrichment_with_upsert(spark, cities_dim, tmp_path):
    """Full DAG: json-dir source → parse → curate → join → keyed upsert.
    Two micro-batches; the second re-sends a data_key with new values —
    the sink must converge to one row per key, last write wins.  A
    ``write_batch`` replaced on the sink instance before ``start`` is
    the one the query runs (timing wrappers rely on it)."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    write_batch_file(
        str(src_dir),
        "batch0.json",
        [
            order_event(1, "BEX-23-00017", "2023-11-17 10:15:30", city=7, total=250.0),
            order_event(2, "BEX-23-00018", "2023-11-17 11:00:00", city=99, total=50.0),
        ],
    )
    source = JsonDirSource(str(src_dir), as_kafka_envelope=True)
    enriched = orders_enrichment_stream(spark, source, cities_dim)
    sink = KeyedUpsertParquetSink(str(tmp_path / "table"), key_col="data_key")
    epochs = []
    inner = sink.write_batch

    def write_batch(df, epoch_id):
        epochs.append(epoch_id)
        inner(df, epoch_id)

    sink.write_batch = write_batch
    query = sink.start(enriched, checkpoint_dir=str(tmp_path / "chk"))
    try:
        query.processAllAvailable()
        assert epochs == [0]
        first = {r["data_key"]: r.asDict() for r in sink.read(spark).collect()}
        assert len(first) == 2
        assert first["BEX-23-00017-2023-11-17"]["city"] == "London"
        assert first["BEX-23-00018-2023-11-17"]["city"] is None  # unmatched city

        # Batch 2: same data_key for order 1 with a new total (upsert),
        # plus one brand-new order.
        write_batch_file(
            str(src_dir),
            "batch1.json",
            [
                order_event(1, "BEX-23-00017", "2023-11-17 23:59:59", total=300.0),
                order_event(3, "BEX-23-00019", "2023-11-18 09:00:00", city=8),
            ],
        )
        query.processAllAvailable()
        final = {r["data_key"]: r.asDict() for r in sink.read(spark).collect()}
        assert len(final) == 3  # not 4: key collision upserted
        assert final["BEX-23-00017-2023-11-17"]["discounted_total"] == 300.0
        assert final["BEX-23-00019-2023-11-18"]["city"] == "Leeds"
    finally:
        query.stop()


def test_upsert_replay_is_idempotent(spark, tmp_path):
    """Re-delivering the same epoch (at-least-once) must not duplicate:
    the reference's es.mapping.id semantics (``:515``)."""
    sink = KeyedUpsertParquetSink(str(tmp_path / "table"), key_col="k")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    sink.write_batch(batch, epoch_id=0)
    sink.write_batch(batch, epoch_id=0)  # replay
    rows = sink.read(spark).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [("a", 1), ("b", 2)]


def test_upsert_swap_crash_then_replay_keeps_every_key(spark, tmp_path, monkeypatch):
    """A crash inside the table swap, then Spark's replay of the epoch,
    must leave every earlier key in the table.  Both crash windows:
    the new table fails to rename in (the old one is aside), and the
    old table fails to be deleted after the new one landed."""
    import shutil

    sink = KeyedUpsertParquetSink(str(tmp_path / "table"), key_col="k")
    sink.write_batch(spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"]), 0)

    def table():
        return sorted((r["k"], r["v"]) for r in sink.read(spark).collect())

    rename = os.rename

    def crash_on_new_table(src, dst):
        if "__tmp_" in os.path.basename(src):
            raise OSError("crash while renaming the new table in")
        rename(src, dst)

    b1 = spark.createDataFrame([("c", 3)], ["k", "v"])
    monkeypatch.setattr(os, "rename", crash_on_new_table)
    with pytest.raises(OSError):
        sink.write_batch(b1, 1)
    monkeypatch.setattr(os, "rename", rename)
    sink.write_batch(b1, 1)  # the replay
    assert table() == [("a", 1), ("b", 2), ("c", 3)]

    rmtree = shutil.rmtree

    def crash_on_old_table(path, *args, **kwargs):
        if path.endswith("__swap_old"):
            raise OSError("crash while deleting the old table")
        rmtree(path, *args, **kwargs)

    b2 = spark.createDataFrame([("a", 9)], ["k", "v"])
    monkeypatch.setattr(shutil, "rmtree", crash_on_old_table)
    with pytest.raises(OSError):
        sink.write_batch(b2, 2)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    sink.write_batch(b2, 2)  # the replay
    assert table() == [("a", 9), ("b", 2), ("c", 3)]
    assert not os.path.exists(f"{tmp_path / 'table'}__swap_old")


def test_append_after_interrupted_swap_keeps_the_old_rows(
    spark, tmp_path, monkeypatch
):
    """An append into a table whose swap crashed between its renames
    (the old table aside, none in place) lands on the old rows, not
    beside them: the blind appends of the index maintenance paths go
    through write_table, which settles the swap first."""
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        read_table,
        swap_table,
        write_table,
    )

    path = str(tmp_path / "table")
    write_table(spark.createDataFrame([(1,)], ["k"]), path)
    rename = os.rename

    def crash_on_new_table(src, dst):
        if "__tmp_" in os.path.basename(src):
            raise OSError("crash while renaming the new table in")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_new_table)
    with pytest.raises(OSError):
        swap_table(spark.createDataFrame([(2,)], ["k"]), path)
    monkeypatch.setattr(os, "rename", rename)
    write_table(spark.createDataFrame([(3,)], ["k"]), path, mode="append")
    assert sorted(r["k"] for r in read_table(spark, path).collect()) == [1, 3]


def test_memory_sink_upsert(spark, tmp_path):
    sink = KeyedUpsertMemorySink(key_col="k")
    sink.write_batch(spark.createDataFrame([("a", 1)], ["k", "v"]), 0)
    sink.write_batch(spark.createDataFrame([("a", 9), ("b", 2)], ["k", "v"]), 1)
    assert sink.rows == {"a": {"k": "a", "v": 9}, "b": {"k": "b", "v": 2}}
    assert sink.epochs_seen == [0, 1]


def test_complete_mode_sorted_windows(spark, tmp_path):
    """A3 semantics pin: orderBy on a streaming agg is legal only in
    complete output mode (the reference pairs orderBy('window') with a
    complete-mode console sink, reference :448,:470).  Complete mode
    re-emits the whole sorted result table each trigger."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        parse_json_events,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.windows import (
        tumbling_window_agg,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    write_batch_file(
        str(src_dir),
        "b0.json",
        [
            order_event(1, "BEX-23-00017", "2023-11-17 10:03:00"),
            order_event(2, "BEX-24-00018", "2023-11-17 10:01:00"),
            order_event(3, "BEX-25-00019", "2023-11-17 10:05:00"),
        ],
    )
    raw = JsonDirSource(str(src_dir), as_kafka_envelope=True).load_stream(spark)
    curated = curate_orders(parse_json_events(raw))
    stats = tumbling_window_agg(
        cast_ts(curated),
        ts_col="order_date",
        width="2 minutes",
        keys=[],
        aggs=[F.count("ship_method").alias("total_orders")],
        sort_by_window=True,
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("complete_sorted")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM complete_sorted").collect()
        starts = [r["window"]["start"].strftime("%H:%M") for r in rows]
        assert starts == ["10:00", "10:02", "10:04"]  # emitted pre-sorted
        assert [r["total_orders"] for r in rows] == [1, 1, 1]
    finally:
        q.stop()


def cast_ts(df):
    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        cast_to_timestamp,
    )

    return cast_to_timestamp(df, "order_date")


def test_watermark_drops_late_event(spark, cities_dim, tmp_path):
    """Controlled-clock watermark test: batch 1 advances event time to
    12:00; its watermark (12:00 − 2 min = 11:58) closes the 10:00
    window.  Batch 2 delivers an event at 10:01 — beyond the watermark
    — which must NOT change emitted results in append mode."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    source = JsonDirSource(str(src_dir), as_kafka_envelope=True)
    raw = source.load_stream(spark, max_files_per_trigger=1)
    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        parse_json_events,
    )

    stats = windowed_orders_stats_stream(
        curate_orders(parse_json_events(raw)),
        watermark="2 minutes",
        width="2 minutes",
    )
    out = (
        stats.select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "fufilment_type",
            "total_orders",
        )
        .writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        # Batch 1: two events at 10:00:xx, one at 12:00 (advances watermark).
        write_batch_file(
            str(src_dir),
            "b0.json",
            [
                order_event(1, "BEX-23-00017", "2023-11-17 10:00:10"),
                order_event(2, "BEX-23-00027", "2023-11-17 10:00:50"),
                order_event(3, "BEX-23-00037", "2023-11-17 12:00:00"),
            ],
        )
        out.processAllAvailable()
        # An extra empty-ish trigger lets the watermark commit + emit
        # closed windows deterministically.
        write_batch_file(
            str(src_dir), "b1.json", [order_event(4, "BEX-23-00047", "2023-11-17 12:00:30")]
        )
        out.processAllAvailable()
        emitted = {
            (r["ws"], r["total_orders"])
            for r in spark.sql("SELECT * FROM wm_test").collect()
        }
        assert ("2023-11-17 10:00:00", 2) in emitted  # closed 2-min window

        # Batch 3: a LATE event for the already-closed 10:00 window.
        write_batch_file(
            str(src_dir), "b2.json", [order_event(5, "BEX-23-00057", "2023-11-17 10:01:00")]
        )
        write_batch_file(
            str(src_dir), "b3.json", [order_event(6, "BEX-23-00067", "2023-11-17 12:01:00")]
        )
        out.processAllAvailable()
        rows = spark.sql("SELECT * FROM wm_test").collect()
        late_window_counts = [
            r["total_orders"] for r in rows if r["ws"] == "2023-11-17 10:00:00"
        ]
        assert late_window_counts == [2]  # late event dropped, no re-emit
    finally:
        out.stop()


def test_session_window_append_mode_emission(spark, tmp_path):
    """Session-window streaming semantics pin (the stretch twin of the
    tumbling-window pins above): in append mode a session is emitted
    only once the watermark passes its close (last event + gap), and
    events within the gap merge into ONE session row.

    Controlled clock: batch 1 has two events 1 min apart (same 5-min
    session) for user A; batch 2 advances event time to 12:00, pushing
    the watermark (12:00 − 2 min) far past the session close
    (10:06), which forces emission of the merged session."""
    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        cast_to_timestamp,
        parse_json_events,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.windows import (
        session_window_agg,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    source = JsonDirSource(str(src_dir), as_kafka_envelope=True)
    raw = source.load_stream(spark, max_files_per_trigger=1)
    curated = cast_to_timestamp(parse_json_events(raw), "order_date")
    sess = session_window_agg(
        curated,
        ts_col="order_date",
        gap="5 minutes",
        keys=["customer_id"],
        aggs=[F.count(F.lit(1)).alias("n_orders")],
        watermark="2 minutes",
    )
    out = sess.select(
        F.date_format("session_window.start", "HH:mm:ss").alias("s_start"),
        F.date_format("session_window.end", "HH:mm:ss").alias("s_end"),
        "customer_id",
        "n_orders",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        write_batch_file(
            str(src_dir),
            "b0.json",
            [
                order_event(1, "BEX-23-00017", "2023-11-17 10:00:00"),
                order_event(2, "BEX-23-00027", "2023-11-17 10:01:00"),
            ],
        )
        q.processAllAvailable()
        # session open (watermark at 10:01 − 2 min): nothing emitted yet
        assert spark.sql("SELECT * FROM sess_test").count() == 0

        write_batch_file(
            str(src_dir),
            "b1.json",
            [order_event(3, "BEX-23-00037", "2023-11-17 12:00:00")],
        )
        q.processAllAvailable()
        # one extra trigger so the state-store eviction runs post-watermark
        write_batch_file(
            str(src_dir),
            "b2.json",
            [order_event(4, "BEX-23-00047", "2023-11-17 12:30:00")],
        )
        q.processAllAvailable()
        rows = {
            (r["s_start"], r["s_end"], r["customer_id"]): r["n_orders"]
            for r in spark.sql("SELECT * FROM sess_test").collect()
        }
        # the two 10:0x events merged into one session [10:00, 10:06);
        # batch 3's watermark (12:28) also closed the 12:00 session
        assert rows == {
            ("10:00:00", "10:06:00", 1): 2,
            ("12:00:00", "12:05:00", 1): 1,
        }
    finally:
        q.stop()


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Cross-batch dedup (watermark-free streaming dropDuplicates): a
    key redelivered in a LATER micro-batch is suppressed;
    first delivery's values win.  This is the custom-stateful
    counterpart of the keyed-upsert sink's last-wins idempotency."""
    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        curate_orders,
        parse_json_events,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_first_seen,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    source = JsonDirSource(str(src_dir), as_kafka_envelope=True)
    raw = source.load_stream(spark, max_files_per_trigger=1)
    curated = curate_orders(parse_json_events(raw))
    deduped = streaming_first_seen(
        curated, key_col="data_key", value_cols=["order_number", "discounted_total"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        write_batch_file(
            str(src_dir),
            "b0.json",
            [
                order_event(1, "BEX-23-00017", "2023-11-17 10:00:00", total=100.0),
                order_event(1, "BEX-23-00017", "2023-11-17 10:00:00", total=100.0),
                order_event(2, "BEX-23-00027", "2023-11-17 10:01:00", total=50.0),
            ],
        )
        q.processAllAvailable()
        # duplicate redelivered two batches later with DIFFERENT total,
        # plus one genuinely new key
        write_batch_file(
            str(src_dir),
            "b1.json",
            [
                order_event(1, "BEX-23-00017", "2023-11-17 10:00:00", total=999.0),
                order_event(3, "BEX-23-00037", "2023-11-17 10:02:00", total=75.0),
            ],
        )
        q.processAllAvailable()
        rows = {
            r["data_key"]: r["discounted_total"]
            for r in spark.sql("SELECT * FROM first_seen").collect()
        }
        assert len(rows) == 3
        assert rows["BEX-23-00017-2023-11-17"] == 100.0  # first delivery won
        assert rows["BEX-23-00037-2023-11-17"] == 75.0
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream–stream joins (beyond the reference's stream–static J1):
    purchases join clicks by user within [click_ts, click_ts + 10 min].
    Both sides buffer in the state store; the watermark + range bound
    eviction.  A purchase 30 min after the click must NOT match."""
    from pyspark.sql import types as T

    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        stream_stream_interval_join,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
        ]
    )
    clicks_dir, buys_dir = tmp_path / "clicks", tmp_path / "buys"
    clicks_dir.mkdir(); buys_dir.mkdir()

    def jline(user_id, event_id, ts):
        return json.dumps({"user_id": user_id, "event_id": event_id, "ts": ts})

    clicks = (
        spark.readStream.schema(schema).json(str(clicks_dir))
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").cast("timestamp").alias("click_ts"))
    )
    buys = (
        spark.readStream.schema(schema).json(str(buys_dir))
        .select(F.col("user_id").alias("b_user"), F.col("event_id").alias("buy_id"), F.col("ts").cast("timestamp").alias("buy_ts"))
    )
    joined = stream_stream_interval_join(
        buys,
        clicks,
        left_ts="buy_ts",
        right_ts="click_ts",
        equi_keys=[("b_user", "user_id")],
        interval="10 MINUTES",
        left_watermark="1 minute",
        right_watermark="1 minute",
    ).select("buy_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        write_batch_file(
            str(clicks_dir),
            "c0.json",
            [
                jline(1, 100, "2023-11-17 10:00:00"),
                jline(2, 200, "2023-11-17 10:00:00"),
            ],
        )
        write_batch_file(
            str(buys_dir),
            "b0.json",
            [
                jline(1, 900, "2023-11-17 10:05:00"),  # in range of click 100
                jline(2, 901, "2023-11-17 10:30:00"),  # 30 min later: out of range
                jline(3, 902, "2023-11-17 10:02:00"),  # no click at all
            ],
        )
        q.processAllAvailable()
        rows = {(r["buy_id"], r["click_id"]) for r in spark.sql("SELECT * FROM ss_join").collect()}
        assert rows == {(900, 100)}
    finally:
        q.stop()


def test_checkpoint_restart_resumes_without_loss_or_dupes(spark, cities_dim, tmp_path):
    """K4 semantics: stop the stream, start a NEW query from the same
    checkpoint — offsets resume (batch 1 not reprocessed, batch 2
    picked up), and the keyed sink holds every key exactly once."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    source = JsonDirSource(str(src_dir), as_kafka_envelope=True)
    sink = KeyedUpsertParquetSink(str(tmp_path / "table"), key_col="data_key")
    chk = str(tmp_path / "chk")

    write_batch_file(
        str(src_dir),
        "b0.json",
        [order_event(1, "BEX-23-00017", "2023-11-17 10:00:00", total=100.0)],
    )
    q1 = sink.start(
        orders_enrichment_stream(spark, source, cities_dim), checkpoint_dir=chk
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    write_batch_file(
        str(src_dir),
        "b1.json",
        [
            order_event(1, "BEX-23-00017", "2023-11-17 10:00:00", total=150.0),
            order_event(2, "BEX-23-00027", "2023-11-17 11:00:00", total=50.0),
        ],
    )
    q2 = sink.start(
        orders_enrichment_stream(spark, source, cities_dim), checkpoint_dir=chk
    )
    try:
        q2.processAllAvailable()
        rows = {r["data_key"]: r["discounted_total"] for r in sink.read(spark).collect()}
        assert len(rows) == 2  # exactly once per key across the restart
        assert rows["BEX-23-00017-2023-11-17"] == 150.0  # batch-2 upsert applied
        assert rows["BEX-23-00027-2023-11-17"] == 50.0
        # (redelivery of batch 1 is permitted — at-least-once transport;
        # the keyed sink is what makes the result effectively-once)
    finally:
        q2.stop()


def test_orders_etl_app_with_test_doubles(spark, cities_dim, tmp_path):
    """The reference's main() as a config-driven app: same composition,
    swappable endpoints — JSON-dir source, literal dim, parquet sink.
    Also pins the default collaborators' config wiring (Kafka options,
    ES options) without connecting anywhere."""
    from spark_streaming_kafka2elasticsearch_spark.app import OrdersEtlApp
    from spark_streaming_kafka2elasticsearch_spark.config import DictConfig

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    write_batch_file(
        str(src_dir),
        "b0.json",
        [order_event(1, "BEX-23-00017", "2023-11-17 10:00:00", city=7)],
    )
    sink = KeyedUpsertParquetSink(str(tmp_path / "table"), key_col="data_key")
    app = OrdersEtlApp(
        config=DictConfig({"CHECKPOINT_DIR": str(tmp_path / "chk")}),
        source=JsonDirSource(str(src_dir), as_kafka_envelope=True),
        dim=cities_dim,
        sink=sink,
    )
    q = app.start(spark)
    try:
        q.processAllAvailable()
        rows = {r["data_key"]: r["city"] for r in sink.read(spark).collect()}
        assert rows == {"BEX-23-00017-2023-11-17": "London"}
    finally:
        q.stop()

    # default collaborators build from config keys mirroring the
    # reference's env/secret surface — constructed, never connected
    cfg = DictConfig(
        {
            "KAFKA_BOOTSTRAP": "b:9096",
            "KAFKA_SASL_USER": "u",
            "KAFKA_SASL_PASSWORD": "p",
            "ES_NODES": "es.example",
            "ES_PORT": "9243",
        }
    )
    bare = OrdersEtlApp(config=cfg)
    kafka_opts = bare._source().options()
    assert kafka_opts["kafka.bootstrap.servers"] == "b:9096"
    assert kafka_opts["subscribe"] == "orders"
    es_opts = bare._sink().options()
    assert es_opts["es.port"] == "9243"
    assert es_opts["es.mapping.id"] == "data_key"


def test_documents_ingest_stream_dedups_across_batches(spark, tmp_path):
    """Streaming corpus ingest: quality gate + fingerprint dedup over
    micro-batches.  Batch 2 redelivers doc 1's text verbatim under a
    NEW doc_id (the crawl-dedup case) and adds a low-quality doc —
    only genuinely new, quality-passing content is emitted."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    def doc(doc_id, lang, text):
        return json.dumps({"doc_id": doc_id, "lang": lang, "text": text})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    source = JsonDirSource(str(src_dir), as_kafka_envelope=True)
    out = documents_ingest_stream(
        spark, source, min_tokens=3, min_alpha_ratio=0.3
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ingest")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        write_batch_file(
            str(src_dir),
            "b0.json",
            [
                doc(1, "en", "the quick brown fox jumps over the dog"),
                doc(2, "en", "an entirely different document body here"),
            ],
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir),
            "b1.json",
            [
                doc(9, "en", "the quick brown fox jumps over the dog"),  # dup text
                doc(3, "en", "12 34 56 78 90 11"),  # fails alpha-ratio gate
                doc(4, "en", "yet another brand new document arrives"),
            ],
        )
        q.processAllAvailable()
        rows = [r["doc_id"] for r in spark.sql("SELECT * FROM ingest").collect()]
        assert sorted(rows) == [1, 2, 4]  # 9 suppressed as dup, 3 gated out
    finally:
        q.stop()


def test_near_dup_gate_stream_screens_against_corpus(spark, tmp_path):
    """Streaming near-dup gate: micro-batches screened against a
    static corpus with the delta-vs-corpus Jaccard operator inside
    foreachBatch — near-dups of at-rest content are dropped, novel
    documents (and near-dups of OTHER STREAM docs, which this gate
    deliberately does not compare) survive to the parquet sink,
    across multiple micro-batches."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        near_dup_gate_stream,
    )

    def doc(doc_id, lang, text):
        return json.dumps({"doc_id": doc_id, "lang": lang, "text": text})

    corpus = spark.createDataFrame(
        [
            (100, "en", "the quick brown fox jumps over the lazy dog today"),
            (101, "en", "training corpora need careful deduplication before use"),
        ],
        "doc_id long, lang string, text string",
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = near_dup_gate_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        corpus,
        sink_dir,
        str(tmp_path / "chk"),
        min_jaccard=0.4,
    )
    try:
        write_batch_file(
            str(src_dir),
            "b0.json",
            [
                # near-dup of corpus 100 (one word changed)
                doc(1, "en", "the quick brown fox jumps over the lazy cat today"),
                doc(2, "en", "a completely novel document with fresh content here"),
            ],
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir),
            "b1.json",
            [
                # near-dup of corpus 101
                doc(3, "en", "training corpora need careful deduplication before release"),
                doc(4, "en", "second batch brings more original material entirely"),
            ],
        )
        q.processAllAvailable()
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(sink_dir).collect()
        )
        assert got == [2, 4]
    finally:
        q.stop()


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """The BUILT-IN bounded-memory dedup, contrasted with
    streaming_first_seen: dropDuplicatesWithinWatermark dedups only
    while the key is inside the watermark window — a duplicate arriving
    within the window is suppressed, and state for expired keys is
    evicted (memory bounded by time, not by key cardinality)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("ts", T.StringType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    stream = (
        spark.readStream.schema(schema)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        write_batch_file(
            str(src),
            "b0.json",
            [
                json.dumps({"k": "a", "ts": "2023-11-17 10:00:00"}),
                json.dumps({"k": "a", "ts": "2023-11-17 10:01:00"}),  # in-window dup
                json.dumps({"k": "b", "ts": "2023-11-17 10:02:00"}),
            ],
        )
        q.processAllAvailable()
        rows = [r["k"] for r in spark.sql("SELECT * FROM ddww").collect()]
        assert sorted(rows) == ["a", "b"]
    finally:
        q.stop()


def test_jdbc_upsert_sink_end_to_end_derby(spark, tmp_path):
    """The relational K2 sink executed for real on embedded Derby:
    epoch 0 creates the target, epoch 1 updates one key and inserts
    another via a database-side MERGE, and replaying epoch 1
    re-converges to the same state (at-least-once -> effectively-once,
    the same contract the ES sink promises via es.mapping.id)."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        KeyedUpsertJdbcSink,
    )

    sink = KeyedUpsertJdbcSink(
        url=f"jdbc:derby:{tmp_path}/sinkdb;create=true",
        table="order_state",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        key_col="k",
    )
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    b1 = spark.createDataFrame([("b", 9), ("c", 3)], ["k", "v"])
    sink.write_batch(b0, 0)
    sink.write_batch(b1, 1)
    sink.write_batch(b1, 1)  # redelivery
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {"a": 1, "b": 9, "c": 3}


def test_jdbc_upsert_sink_streaming_micro_batches(spark, tmp_path):
    """Full streaming wiring: file-stream source -> foreachBatch ->
    Derby MERGE, two micro-batches, last-write-wins per key."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        KeyedUpsertJdbcSink,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(src, "b0.json", ['{"k": "a", "v": 1}', '{"k": "b", "v": 2}'])
    stream = (
        spark.readStream.schema("k string, v bigint").json(src)
    )
    sink = KeyedUpsertJdbcSink(
        url=f"jdbc:derby:{tmp_path}/streamdb;create=true",
        table="stream_state",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        key_col="k",
    )
    q = sink.start(stream, checkpoint_dir=str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
        write_batch_file(src, "b1.json", ['{"k": "a", "v": 7}', '{"k": "c", "v": 3}'])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got == {"a": 7, "b": 2, "c": 3}


def test_stream_stream_left_outer_interval_join_emits_nulls_after_watermark(
    spark, tmp_path
):
    """LEFT OUTER stream-stream semantics: an unmatched left row may
    only emit (null-padded) once the watermark proves no future right
    row can still match it — so the null row appears not in the epoch
    that read it, but after event time advances past its join window.
    This is the state-EVICTION contract made visible."""
    from pyspark.sql import types as T

    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        stream_stream_interval_join,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
        ]
    )
    clicks_dir, buys_dir = tmp_path / "clicks", tmp_path / "buys"
    clicks_dir.mkdir(); buys_dir.mkdir()

    def jline(user_id, event_id, ts):
        return json.dumps({"user_id": user_id, "event_id": event_id, "ts": ts})

    clicks = (
        spark.readStream.schema(schema).json(str(clicks_dir))
        .select("user_id", F.col("event_id").alias("click_id"),
                F.col("ts").cast("timestamp").alias("click_ts"))
    )
    buys = (
        spark.readStream.schema(schema).json(str(buys_dir))
        .select(F.col("user_id").alias("b_user"), F.col("event_id").alias("buy_id"),
                F.col("ts").cast("timestamp").alias("buy_ts"))
    )
    joined = stream_stream_interval_join(
        buys,
        clicks,
        left_ts="buy_ts",
        right_ts="click_ts",
        equi_keys=[("b_user", "user_id")],
        interval="10 MINUTES",
        left_watermark="1 minute",
        right_watermark="1 minute",
        how="leftOuter",
    ).select("buy_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        write_batch_file(
            str(clicks_dir), "c0.json", [jline(1, 100, "2023-11-17 10:00:00")]
        )
        write_batch_file(
            str(buys_dir),
            "b0.json",
            [
                jline(1, 900, "2023-11-17 10:05:00"),  # matches click 100
                jline(3, 902, "2023-11-17 10:02:00"),  # never matches
            ],
        )
        q.processAllAvailable()
        rows = {
            (r["buy_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM ss_left_join").collect()
        }
        assert rows == {(900, 100)}  # 902 still buffered: window not closed

        # Advance event time far past 902's window on BOTH streams so
        # the watermark closes it; the null-padded row must now emit.
        write_batch_file(
            str(clicks_dir), "c1.json", [jline(8, 800, "2023-11-17 12:00:00")]
        )
        write_batch_file(
            str(buys_dir), "b1.json", [jline(9, 990, "2023-11-17 12:00:00")]
        )
        q.processAllAvailable()
        q.processAllAvailable()  # second epoch lets the advanced watermark act
        rows = {
            (r["buy_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM ss_left_join").collect()
        }
        assert (902, None) in rows, rows
        assert (900, 100) in rows
    finally:
        q.stop()


def test_ecs_progress_listener_captures_metrics(spark, tmp_path):
    """The observability surface: every micro-batch must surface
    rows-in, throughput, and batch duration through the listener (and
    thus into ECS logs). Listener events are delivered async, so poll."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.observability import (
        EcsProgressListener,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    listener = EcsProgressListener()
    spark.streams.addListener(listener)
    try:
        write_batch_file(src, "b0.json", ['{"k": "a"}', '{"k": "b"}', '{"k": "c"}'])
        q = (
            spark.readStream.schema("k string").json(src)
            .writeStream.format("memory").queryName("obs_probe")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )
        try:
            q.processAllAvailable()
            for _ in range(40):  # async delivery: wait up to ~10 s
                if any(p["num_input_rows"] == 3 for p in listener.progresses):
                    break
                time.sleep(0.25)
        finally:
            q.stop()
        batches = [p for p in listener.progresses if p["num_input_rows"] == 3]
        assert batches, listener.progresses
        b = batches[0]
        assert b["query_name"] == "obs_probe"
        assert b["batch_duration_ms"] is not None and b["batch_duration_ms"] >= 0
        assert b["state_rows_total"] == 0  # stateless query
    finally:
        spark.streams.removeListener(listener)


def test_streaming_dead_letter_quarantine_two_sinks(spark, tmp_path):
    """The dead-letter pattern end-to-end under streaming: one source,
    two queries — good rows to the curated sink, malformed payloads to
    quarantine with the raw bytes intact. Nothing lost, nothing mixed."""
    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        parse_with_dead_letter,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    ok = order_event(1, "A-1", "2024-01-01 10:00:00")
    write_batch_file(src, "b0.json", [ok, "NOT JSON %%%", '{"order_id": }'])

    raw = spark.readStream.schema("value string").text(src).toDF("value")
    good, bad = parse_with_dead_letter(raw)
    q_good = (
        good.select("order_number").writeStream.format("memory")
        .queryName("dl_good").option("checkpointLocation", str(tmp_path / "c1"))
        .start()
    )
    q_bad = (
        bad.writeStream.format("memory")
        .queryName("dl_bad").option("checkpointLocation", str(tmp_path / "c2"))
        .start()
    )
    try:
        q_good.processAllAvailable()
        q_bad.processAllAvailable()
        good_rows = [r["order_number"] for r in spark.sql("SELECT * FROM dl_good").collect()]
        bad_rows = {r["raw_payload"] for r in spark.sql("SELECT * FROM dl_bad").collect()}
        assert good_rows == ["A-1"]
        assert bad_rows == {"NOT JSON %%%", '{"order_id": }'}
    finally:
        q_good.stop()
        q_bad.stop()


def test_refreshable_dim_inside_foreachbatch(spark, tmp_path):
    """Compose RefreshableDim with the J1 enrichment inside
    foreachBatch: epochs within the TTL reuse one cached dim load;
    after invalidate() the next epoch sees the re-published dim."""
    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        enrich_stream_static,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.dims import RefreshableDim

    dim_state = {"rows": [(7, "London")]}
    dim = RefreshableDim(
        lambda s: s.createDataFrame(dim_state["rows"], ["city_id", "city"]),
        ttl_seconds=3600.0,
    )
    seen: list[tuple] = []

    def enrich_epoch(batch_df, epoch_id):
        d = dim.get(batch_df.sparkSession)
        out = enrich_stream_static(
            batch_df, d, fact_key="city_id", dim_key="city_id", cache_dim=False
        )
        seen.extend((r["k"], r["city"]) for r in out.collect())

    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(src, "b0.json", ['{"k": "a", "city_id": 7}'])
    stream = spark.readStream.schema("k string, city_id bigint").json(src)
    q = (
        stream.writeStream.foreachBatch(enrich_epoch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        dim_state["rows"] = [(7, "Leeds")]
        write_batch_file(src, "b1.json", ['{"k": "b", "city_id": 7}'])
        q.processAllAvailable()  # TTL valid: still the London copy
        dim.invalidate()
        write_batch_file(src, "b2.json", ['{"k": "c", "city_id": 7}'])
        q.processAllAvailable()
    finally:
        q.stop()
    assert ("a", "London") in seen and ("b", "London") in seen
    assert ("c", "Leeds") in seen
    assert dim.n_loads == 2  # three epochs, two loads


def test_console_sink_runs_and_terminates(spark, tmp_path):
    """K1 — the console debug sink actually executes a microbatch
    (reference :465-476): rate source → console, one trigger, query
    reaches a processed batch and stops cleanly.  Closes the last
    'untested (trivial wrapper)' row in the §2 table."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        start_console_sink,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
    )
    q = start_console_sink(stream, output_mode="append", query_name="k1_console")
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] >= 0:
                break
            time.sleep(0.5)
        assert q.isActive
        assert q.lastProgress is not None  # at least one batch ran
    finally:
        q.stop()
        q.awaitTermination(10)
    assert not q.isActive


def test_kafka_envelope_replay_source_end_to_end(spark, cities_dim, tmp_path):
    """S1's missing headers path, broker-free (VERDICT r5 item 3): the
    replay source emits the FULL 7-column Kafka envelope + headers with
    binary key/value, orders_enrichment_stream consumes it via P1's
    binary->string cast unmodified, and the batch view proves offsets
    are dense and monotonic per topic-partition and headers round-trip."""
    from spark_streaming_kafka2elasticsearch_spark.schemas import KAFKA_ENVELOPE_SCHEMA
    from spark_streaming_kafka2elasticsearch_spark.sources.files import (
        KafkaEnvelopeReplaySource,
    )

    src = KafkaEnvelopeReplaySource(str(tmp_path / "log"), topic="orders")
    src.append_batch(
        [
            {
                "value": order_event(1, "BEX-23-00017", "2023-11-17 10:15:30", city=7).encode(),
                "key": b"1",
                "partition": 0,
                "headers": [("source", b"pos-system"), ("trace", b"\x00\x01")],
            },
            {
                "value": order_event(2, "BEX-23-00018", "2023-11-17 11:00:00", city=8).encode(),
                "key": b"2",
                "partition": 1,
                "headers": [("source", b"web")],
            },
        ]
    )

    # The streaming frame is schema-identical to format("kafka")'s.
    stream = src.load_stream(spark)
    assert stream.isStreaming
    assert stream.schema == KAFKA_ENVELOPE_SCHEMA
    assert dict(stream.dtypes)["value"] == "binary"  # P1 gets real binary

    enriched = orders_enrichment_stream(spark, src, cities_dim)
    sink = KeyedUpsertMemorySink(key_col="data_key")
    query = (
        enriched.writeStream.outputMode("update")
        .foreachBatch(sink.write_batch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        query.processAllAvailable()
        # second micro-batch continues each partition's log
        src.append_batch(
            [
                {
                    "value": order_event(3, "BEX-23-00019", "2023-11-18 09:00:00", city=7).encode(),
                    "key": b"3",
                    "partition": 0,
                    "headers": None,
                },
            ]
        )
        query.processAllAvailable()
        assert len(sink.rows) == 3
        assert sink.rows["BEX-23-00017-2023-11-17"]["city"] == "London"
        assert sink.rows["BEX-23-00018-2023-11-17"]["city"] == "Leeds"
    finally:
        query.stop()

    # Batch replay view: offsets dense + monotonic per partition,
    # headers and keys round-trip byte-exact.
    rows = src.load(spark).orderBy("partition", "offset").collect()
    per_part = {}
    for r in rows:
        per_part.setdefault(r["partition"], []).append(r["offset"])
    assert per_part == {0: [0, 1], 1: [0]}
    h0 = {h["key"]: bytes(h["value"]) for h in rows[0]["headers"]}
    assert h0 == {"source": b"pos-system", "trace": b"\x00\x01"}
    assert bytes(rows[0]["key"]) == b"1" and rows[0]["topic"] == "orders"
    assert rows[0]["timestampType"] == 0 and rows[0]["timestamp"] is not None

    # A FRESH writer instance resumes each partition's log from disk
    # instead of restarting offsets at 0.
    src2 = KafkaEnvelopeReplaySource(str(tmp_path / "log"), topic="orders")
    src2.append_batch([{"value": b"{}", "partition": 0}])
    offs = {
        (r["partition"], r["offset"])
        for r in src2.load(spark).select("partition", "offset").collect()
    }
    assert (0, 2) in offs and len(offs) == 4


def test_refreshable_dim_ttl_expiry_picks_up_changed_dim(spark, tmp_path):
    """The production refresh story (VERDICT r5 item 7): no explicit
    invalidate() — the TTL itself expires while the stream keeps
    running, and the next foreachBatch epoch transparently enriches
    with the CHANGED dim rows (old copy unpersisted, new copy served)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        enrich_stream_static,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.dims import RefreshableDim

    dim_state = {"rows": [(7, "London"), (8, "Leeds")]}
    dim = RefreshableDim(
        lambda s: s.createDataFrame(dim_state["rows"], ["city_id", "city"]),
        ttl_seconds=0.5,
    )
    seen: list[tuple] = []

    def enrich_epoch(batch_df, epoch_id):
        d = dim.get(batch_df.sparkSession)
        out = enrich_stream_static(
            batch_df, d, fact_key="city_id", dim_key="city_id", cache_dim=False
        )
        seen.extend((r["k"], r["city"]) for r in out.collect())

    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(src, "b0.json", ['{"k": "a", "city_id": 7}'])
    stream = spark.readStream.schema("k string, city_id bigint").json(src)
    q = (
        stream.writeStream.foreachBatch(enrich_epoch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # upstream publishes a changed dimension; the stream is never
        # told — only the TTL clock runs out
        dim_state["rows"] = [(7, "Londinium"), (8, "Leeds")]
        time.sleep(0.6)
        write_batch_file(src, "b1.json", ['{"k": "b", "city_id": 7}'])
        q.processAllAvailable()
    finally:
        q.stop()
    assert ("a", "London") in seen  # pre-refresh value
    assert ("b", "Londinium") in seen  # post-TTL value differs
    assert dim.n_loads == 2


def test_row_foreach_sink_lifecycle_and_replay_isolation(spark, tmp_path):
    """K3's rejected-but-real alternative, executed: the row-level
    foreach sink runs the open/process/close lifecycle per
    (partition, epoch), lands every row exactly where its epoch says,
    and a later epoch never touches an earlier epoch's files."""
    import glob

    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import RowForeachSink

    src = str(tmp_path / "in")
    os.makedirs(src)
    out = str(tmp_path / "out")
    write_batch_file(src, "b0.json", ['{"k": "a", "v": 1}', '{"k": "b", "v": 2}'])
    stream = spark.readStream.schema("k string, v bigint").json(src).coalesce(1)
    sink = RowForeachSink(out)
    q = sink.start(stream, checkpoint_dir=str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
        write_batch_file(src, "b1.json", ['{"k": "c", "v": 3}'])
        q.processAllAvailable()
    finally:
        q.stop()

    files = sorted(glob.glob(f"{out}/*.jsonl"))
    assert len(files) == 2  # one partition × two epochs
    epochs = {os.path.basename(f).split("-")[1].split(".")[0] for f in files}
    assert epochs == {"e0", "e1"}
    rows = []
    for f in files:
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    assert sorted((r["k"], r["v"]) for r in rows) == [("a", 1), ("b", 2), ("c", 3)]


def test_streaming_keyed_changelog_old_new_transitions(spark, tmp_path):
    """The CDC-style changelog operator: each batch emits one
    (key, old_total, new_total, n_events) row per touched key, with
    old_total carrying the running sum from BEFORE the batch across
    micro-batch boundaries (checkpointed state, not batch-local)."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_keyed_changelog,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(
        src,
        "b0.json",
        ['{"k": "a", "v": 1.0}', '{"k": "a", "v": 2.0}', '{"k": "b", "v": 5.0}'],
    )
    stream = spark.readStream.schema("k string, v double").json(src)
    out = streaming_keyed_changelog(stream, "k", "v")
    q = (
        out.writeStream.format("memory")
        .queryName("chg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch_file(src, "b1.json", ['{"k": "a", "v": 4.0}'])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (
            (r["k"], r["old_total"], r["new_total"], r["n_events"])
            for r in spark.sql("SELECT * FROM chg").collect()
        )
    )
    assert rows == [
        ("a", 0.0, 3.0, 2),  # batch 0: 1+2
        ("a", 3.0, 7.0, 3),  # batch 1 sees batch 0's total as old
        ("b", 0.0, 5.0, 1),
    ]


def test_transform_with_state_env_probe(spark, tmp_path):
    """Spark 4's transformWithStateInPandas needs protobuf for its
    Python state server; this sandbox ships pyspark without it, so the
    modern API cannot run here (streaming_keyed_changelog pins the
    applyInPandasWithState form instead).  This probe SKIPS with the
    exact boundary today and runs a real TWS query the moment the
    environment gains protobuf — the same self-lighting pattern as the
    Kafka connector-jar probe."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state server needs protobuf; "
        "not shipped in this sandbox (operator expressed via "
        "applyInPandasWithState instead — see streaming/stateful.py)",
    )
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._st = handle.getValueState("cnt", "cnt bigint")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd_

            c = sum(len(pdf) for pdf in rows)
            old = self._st.get()
            total = (old[0] if old else 0) + c
            self._st.update((total,))
            yield pd_.DataFrame({"k": [key[0]], "cnt": [total]})

        def close(self):
            pass

    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(src, "b0.json", ['{"k": "a", "v": 1.0}'])
    stream = spark.readStream.schema("k string, v double").json(src)
    out = stream.groupBy("k").transformWithStateInPandas(
        Counter(), "k string, cnt bigint", "append", "none"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tws_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [r["cnt"] for r in spark.sql("SELECT * FROM tws_probe").collect()] == [1]


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger surface: availableNow processes everything present at
    start (possibly as several bounded micro-batches) and then stops on
    its own — the production backfill/corpus-drain mode, vs the default
    process-as-available trigger the reference runs with.  Files added
    AFTER the drain finishes are NOT picked up until a new run, which
    is exactly the restart-for-backfill contract."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    out = str(tmp_path / "out")
    write_batch_file(src, "b0.json", ['{"k": "a", "v": 1}', '{"k": "b", "v": 2}'])
    stream = spark.readStream.schema("k string, v bigint").json(src)

    def drain() -> None:
        # parquet sink: the durable target a real backfill drains into
        # (the memory sink refuses checkpoint recovery across runs).
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive  # drained and self-stopped

    drain()
    assert {r["k"] for r in spark.read.parquet(out).collect()} == {"a", "b"}

    # a second availableNow run resumes from the checkpoint and
    # appends only the new file's rows — no reprocessing of b0
    write_batch_file(src, "b1.json", ['{"k": "c", "v": 3}'])
    drain()
    rows = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert rows == ["a", "b", "c"]


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """S4's rate cap, file-source twin: maxFilesPerTrigger=1 forces one
    input file per micro-batch, so three files drain as three bounded
    batches — the same backpressure contract maxOffsetsPerTrigger
    gives the Kafka source (sources/kafka.py pins that option)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    for i in range(3):
        write_batch_file(src, f"b{i}.json", [json.dumps({"k": f"k{i}", "v": i})])
    stream = (
        spark.readStream.schema("k string, v bigint")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("capped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    assert spark.sql("SELECT count(*) AS n FROM capped").collect()[0]["n"] == 3
    batches_with_rows = [p for p in progress if p["numInputRows"] > 0]
    assert len(batches_with_rows) == 3  # one file -> one batch each
    assert all(p["numInputRows"] == 1 for p in batches_with_rows)


def test_incremental_agg_sink_folds_and_skips_replays(spark, tmp_path):
    """Streaming MV maintenance: two micro-batches fold into the keyed
    aggregate table; a replayed epoch is skipped via the epoch
    watermark (a fold is additive, so replay idempotence must come
    from epoch tracking, not overwrite)."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        IncrementalAggParquetSink,
    )

    sink = IncrementalAggParquetSink(
        str(tmp_path / "mv"), keys=("k",), sum_cols=("v",)
    )
    b0 = spark.createDataFrame([("a", 10.0), ("a", 2.5), ("b", 1.0)], ["k", "v"])
    b1 = spark.createDataFrame([("a", 0.5), ("c", 4.0)], ["k", "v"])
    sink.write_batch(b0, 0)
    sink.write_batch(b1, 1)
    sink.write_batch(b1, 1)  # redelivery of epoch 1: must not double-count
    got = {
        r["k"]: (float(r["sum_v"]), r["n_rows"])
        for r in sink.read(spark).collect()
    }
    assert got == {"a": (13.0, 3), "b": (1.0, 1), "c": (4.0, 1)}

    # and through a real stream: one more file-sourced micro-batch.
    # A fresh checkpoint is a NEW query lineage whose epochs restart at
    # 0, so the streaming writer takes its own lineage name — reusing
    # the direct-write lineage would read epoch 0 as a replay.
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        IncrementalAggParquetSink as _Sink,
    )

    stream_sink = _Sink(
        str(tmp_path / "mv"), keys=("k",), sum_cols=("v",), lineage="q2"
    )
    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(src, "b2.json", ['{"k": "b", "v": 9.0}'])
    stream = spark.readStream.schema("k string, v double").json(src)
    q = stream_sink.start(stream, checkpoint_dir=str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got2 = {
        r["k"]: (float(r["sum_v"]), r["n_rows"])
        for r in sink.read(spark).collect()
    }
    assert got2["b"] == (10.0, 2)
    assert got2["a"] == (13.0, 3)


def test_countmin_sink_folds_and_matches_batch_sketch(spark, tmp_path):
    """Streaming sketch maintenance: micro-batches fold cell-wise into
    the stored Count-Min grid; the final grid equals the sketch built
    over all rows at once (merge associativity), replayed epochs are
    skipped, and estimates never undercount."""
    from spark_streaming_kafka2elasticsearch_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        CountMinParquetSink,
    )

    sink = CountMinParquetSink(
        str(tmp_path / "cm"), item_col="tok", depth=3, width=8
    )
    rows = [(f"tok{i % 5}",) for i in range(60)]
    b0 = spark.createDataFrame(rows[:25], ["tok"])
    b1 = spark.createDataFrame(rows[25:], ["tok"])
    sink.write_batch(b0, 0)
    sink.write_batch(b1, 1)
    sink.write_batch(b1, 1)  # replay: must not double-count

    all_df = spark.createDataFrame(rows, ["tok"])
    direct = countmin_sketch(all_df, "tok", depth=3, width=8)
    as_map = lambda sk: {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"] for r in sk.collect()
    }
    assert as_map(sink.read(spark)) == as_map(direct)

    # one more micro-batch through a real file stream (new lineage)
    stream_sink = CountMinParquetSink(
        str(tmp_path / "cm"), item_col="tok", depth=3, width=8, lineage="q2"
    )
    src = str(tmp_path / "in")
    os.makedirs(src)
    write_batch_file(src, "b2.json", ['{"tok": "tok0"}'] * 7)
    stream = spark.readStream.schema("tok string").json(src)
    q = stream_sink.start(stream, checkpoint_dir=str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    exact = all_df.union(
        spark.createDataFrame([("tok0",)] * 7, ["tok"])
    ).groupBy("tok").count()
    est = countmin_estimate(
        exact.select("tok"), sink.read(spark), "tok", depth=3, width=8
    )
    joined = {
        r["tok"]: (r["count"], r["cm_estimate"])
        for r in exact.join(est, "tok").collect()
    }
    assert len(joined) == 5
    assert all(cm >= n for n, cm in joined.values())
    # sketch never exceeds depth*width rows no matter the stream length
    assert sink.read(spark).count() <= 3 * 8


def test_streaming_zscore_anomalies_welford(spark, tmp_path):
    """Per-key Welford anomaly stream: events score against the
    pre-arrival baseline, nothing emits until min_baseline prior
    observations exist, and an obvious outlier flags with a large z."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_zscore_anomalies,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    baseline = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 11.0, 9.0, 10.0, 11.0, 9.0]
    write_batch_file(
        src,
        "b0.json",
        [json.dumps({"k": "u", "eid": i, "v": v}) for i, v in enumerate(baseline)]
        + [json.dumps({"k": "cold", "eid": 100, "v": 9999.0})],
    )
    stream = spark.readStream.schema("k string, eid long, v double").json(src)
    out = streaming_zscore_anomalies(
        stream, key_col="k", value_col="v", id_col="eid",
        z_threshold=3.0, min_baseline=10,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("anom_t")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 0 builds the baseline: nothing has 10 PRIOR observations
        # until the 11th row, and rows 11-12 are in-distribution
        assert spark.sql("SELECT * FROM anom_t").count() == 0
        write_batch_file(
            src,
            "b1.json",
            [
                json.dumps({"k": "u", "eid": 20, "v": 10.0}),
                json.dumps({"k": "u", "eid": 21, "v": 100.0}),
                json.dumps({"k": "u", "eid": 22, "v": 11.0}),
                json.dumps({"k": "cold", "eid": 101, "v": -9999.0}),
            ],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM anom_t").collect()
    finally:
        q.stop()
    assert [(r["k"], r["eid"]) for r in rows] == [("u", 21)]
    assert rows[0]["zscore"] > 3.0 and rows[0]["baseline_n"] >= 12


def test_streaming_funnel_conversion_state_machine(spark, tmp_path):
    """applyInPandasWithState funnel: the view→click→purchase machine
    advances across micro-batches, emits exactly ONE conversion per
    user at the purchase that completes the in-order sequence, latches
    afterward (redelivered purchases don't double-count), and never
    converts a user whose purchase predates the view/click chain."""
    import json as _json

    from pyspark.sql import types as T

    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_funnel_conversions,
    )

    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src_dir))
    out = streaming_funnel_conversions(stream, key_col="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_conv")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )

    def ev(user, et, hhmm):
        return _json.dumps(
            {"user_id": user, "event_type": et, "ts": f"2024-01-01T{hhmm}:00.000Z"}
        )

    try:
        # batch 0: user 1 reaches 'clicked'; user 2's purchase has no
        # prior view — must not convert
        write_batch_file(
            str(src_dir),
            "b0.json",
            [ev(1, "view", "10:00"), ev(1, "click", "10:01"), ev(2, "purchase", "10:00")],
        )
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM funnel_conv").count() == 0

        # batch 1: user 1 purchases (converts, 120s after the view);
        # user 2 starts its chain
        write_batch_file(
            str(src_dir), "b1.json", [ev(1, "purchase", "10:02"), ev(2, "view", "10:03")]
        )
        q.processAllAvailable()
        rows = {r.user_id: r for r in spark.sql("SELECT * FROM funnel_conv").collect()}
        assert set(rows) == {1}
        assert rows[1].ms_to_convert == 120_000

        # batch 2: user 1 redelivers a purchase (latched — no second
        # emission); user 2 completes click→purchase in order
        write_batch_file(
            str(src_dir),
            "b2.json",
            [ev(1, "purchase", "10:05"), ev(2, "click", "10:04"), ev(2, "purchase", "10:05")],
        )
        q.processAllAvailable()
        rows = [
            (r.user_id, r.ms_to_convert)
            for r in spark.sql("SELECT * FROM funnel_conv ORDER BY user_id").collect()
        ]
        assert rows == [(1, 120_000), (2, 120_000)]
    finally:
        q.stop()


def test_streaming_funnel_sorts_across_arrow_chunks(spark, tmp_path):
    """Regression for the r6 advisory: with Arrow batches forced to a
    single row, one micro-batch delivers each group as MULTIPLE
    chunks.  Events arriving chunk-ordered purchase→view→click (the
    reverse of event time) must still convert — the machine has to
    sort the WHOLE group's micro-batch, not each chunk."""
    import json as _json

    from pyspark.sql import types as T

    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_funnel_conversions,
    )

    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "10")  # one micro-batch, all files
        .json(str(src_dir))
        # single partition so all three events share one Arrow stream
        .repartition(1)
    )
    out = streaming_funnel_conversions(stream, key_col="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_chunks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )

    def ev(user, et, hhmm):
        return _json.dumps(
            {"user_id": user, "event_type": et, "ts": f"2024-01-01T{hhmm}:00.000Z"}
        )

    try:
        # arrival order is purchase, view, click — event time is
        # view(10:00) < click(10:01) < purchase(10:02)
        write_batch_file(
            str(src_dir),
            "b0.json",
            [ev(7, "purchase", "10:02"), ev(7, "view", "10:00"), ev(7, "click", "10:01")],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM funnel_chunks").collect()
        assert len(rows) == 1 and rows[0].user_id == 7
        assert rows[0].ms_to_convert == 120_000
    finally:
        q.stop()
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)


def test_tokenize_ingest_stream_encodes_batches(spark, tmp_path):
    """Streaming tokenize gate: micro-batches encoded against a static
    pre-trained lexicon inside foreachBatch; across two batches the
    parquet sink holds exactly the batch operator's output for the
    union of the batches (streaming = batch per micro-batch), with
    out-of-vocabulary tokens dropped by the lexicon join."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_encode_with_lexicon,
        bpe_train,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        tokenize_ingest_stream,
    )

    # Train the lexicon once on the Sennrich corpus (pinned merges).
    wf = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "tok string, c long",
    )
    lexicon = bpe_train(wf, rounds=6, emit="lexicon")

    def doc(doc_id, text):
        return json.dumps({"doc_id": doc_id, "lang": "en", "text": text})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = tokenize_ingest_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        lexicon,
        sink_dir,
        str(tmp_path / "chk"),
    )
    rows = [
        (1, "low lower"),
        (2, "newest OOV widest"),   # OOV token dropped by the join
        (3, "widest low newest"),
    ]
    try:
        write_batch_file(str(src_dir), "b0.json", [doc(*rows[0]), doc(*rows[1])])
        q.processAllAvailable()
        write_batch_file(str(src_dir), "b1.json", [doc(*rows[2])])
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_subwords"], r["subwords"])
            for r in spark.read.parquet(sink_dir).collect()
        }
    finally:
        q.stop()
    batch_docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        r["doc_id"]: (r["n_subwords"], r["subwords"])
        for r in bpe_encode_with_lexicon(batch_docs, lexicon).collect()
    }
    assert got == want
    assert got[1] == (4, "low low e r")
    assert got[2] == (6, "n ewest w i d est")


def test_dsir_gate_stream_filters_by_domain_relevance(spark, tmp_path):
    """Streaming DSIR gate: micro-batches are scored against the
    static fitted weight table inside foreachBatch and only docs at or
    above the threshold land in the sink — and the kept set is exactly
    what the BATCH scorer says (streaming = batch per micro-batch)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        dsir_fit_weights,
        dsir_score_with_weights,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        dsir_gate_stream,
    )

    fit_corpus = spark.createDataFrame(
        [
            ("cat meow purr cat meow", True),
            ("cat purr whiskers cat", True),
            ("meow cat purr purr", True),
            ("dog bark woof growl", False),
            ("lorem ipsum dolor sit", False),
        ],
        "text string, tgt boolean",
    )
    weights = dsir_fit_weights(fit_corpus, F.col("tgt")).localCheckpoint()

    def doc(doc_id, text):
        return json.dumps({"doc_id": doc_id, "lang": "en", "text": text})

    rows = [(1, "cat meow purr"), (2, "dog bark growl"), (3, "purr cat whiskers")]
    # Featureless doc: never passes the gate, by contract (no score).
    empty_doc = doc(99, "   ")
    batch_docs = spark.createDataFrame(
        [(i, t) for i, t in rows], "doc_id long, text string"
    )
    scores = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_score_with_weights(batch_docs, weights, "doc_id").collect()
    }
    # Sanity of the planted corpus: target-like docs score above the
    # dog doc; pick a threshold that splits them.
    assert scores[1] > scores[2] and scores[3] > scores[2]
    thr = (max(scores[2], 0.0) + min(scores[1], scores[3])) / 2
    want_kept = {i for i, s in scores.items() if s >= thr}
    assert want_kept and 2 not in want_kept

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = dsir_gate_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        weights,
        sink_dir,
        str(tmp_path / "chk"),
        min_logratio=thr,
    )
    try:
        write_batch_file(
            str(src_dir), "b0.json", [doc(*rows[0]), doc(*rows[1]), empty_doc]
        )
        q.processAllAvailable()
        write_batch_file(str(src_dir), "b1.json", [doc(*rows[2])])
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["dsir_logratio"]
            for r in spark.read.parquet(sink_dir).collect()
        }
    finally:
        q.stop()
    assert set(got) == want_kept  # in particular, 99 (featureless) absent
    for i in want_kept:
        assert abs(got[i] - scores[i]) < 1e-12


def test_dsir_gate_stream_rejects_bucket_count_mismatch(spark, tmp_path):
    """The gate's setup check: a weight table whose row count disagrees
    with n_buckets must raise — the fit's dense spine would otherwise
    join cleanly and score every document against the wrong model rows
    with no error."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        dsir_fit_weights,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        dsir_gate_stream,
    )

    corpus = spark.createDataFrame(
        [("cat meow", True), ("dog bark", False)], "text string, tgt boolean"
    )
    weights_64 = dsir_fit_weights(corpus, F.col("tgt"), n_buckets=64)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    with pytest.raises(ValueError, match="bucket count"):
        dsir_gate_stream(
            spark,
            JsonDirSource(str(src_dir), as_kafka_envelope=True),
            weights_64,
            str(tmp_path / "sink"),
            str(tmp_path / "chk"),
            n_buckets=256,
        )


def test_semantic_decon_gate_stream_matches_batch_operator(spark, tmp_path):
    """Streaming semantic-decontamination gate: micro-batches of
    vectors are screened against the static eval matrix inside
    foreachBatch with the SAME batch operator the oracle-checked query
    uses, and the kept set across >= 2 batches equals the batch run
    over the union (streaming = batch by construction — the screen is
    per-vector against a static artifact, no cross-batch state)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semantic_contamination_flags,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        semantic_decon_gate_stream,
    )

    # Eval suite: two unit-ish vectors.  Stream vectors: near-copies
    # of eval vectors (contaminated), orthogonal/clean vectors, and a
    # zero vector (NULL cosine — must pass the gate, never NaN-flag).
    evals = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "eval_id long, eval_vec array<double>",
    )
    stream_rows = [
        (1, [1.01, 0.002, 0.002]),   # ~copy of eval 100 -> contaminated
        (2, [0.0, 0.0, 1.0]),        # orthogonal -> clean
        (3, [0.002, 1.01, 0.002]),   # ~copy of eval 101 -> contaminated
        (4, [0.5, 0.5, 0.70]),       # mid-angle -> clean at 0.99
        (5, [0.0, 0.0, 0.0]),        # zero norm -> NULL cosine -> clean
    ]
    batch_df = spark.createDataFrame(
        stream_rows, "vec_id long, embedding array<double>"
    )
    flags = {
        r["vec_id"]: r["is_contaminated"]
        for r in semantic_contamination_flags(batch_df, evals).collect()
    }
    want_kept = {i for i, c in flags.items() if not c}
    assert want_kept == {2, 4, 5}  # sanity: the construction splits

    def vec(vec_id, emb):
        return json.dumps({"vec_id": vec_id, "embedding": emb})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = semantic_decon_gate_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        evals,
        sink_dir,
        str(tmp_path / "chk"),
    )
    try:
        write_batch_file(
            str(src_dir), "b0.json", [vec(*stream_rows[0]), vec(*stream_rows[1])]
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir),
            "b1.json",
            [vec(*r) for r in stream_rows[2:]],
        )
        q.processAllAvailable()
        got = {r["vec_id"] for r in spark.read.parquet(sink_dir).collect()}
    finally:
        q.stop()
    assert got == want_kept


def test_ivf_index_maintenance_stream_equals_batch_rebuild(spark, tmp_path):
    """Streaming IVF index maintenance: micro-batches of vectors are
    cell-assigned with the batch quantizer and appended into the
    persisted layout; after >= 2 batches the stream-maintained index
    must serve byte-identically to a full batch rebuild over base ∪
    everything ingested (assignment determinism — the same contract
    ivf_persisted_append's batch test pins, here across triggers)."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_topk,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        ivf_index_maintenance_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    base = emb.filter(F.col("vec_id") % 3 == 0)
    d1 = [(int(r["vec_id"]), list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") % 3 == 1).collect()]
    d2 = [(int(r["vec_id"]), list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") % 3 == 2).collect()]

    inc_path = str(tmp_path / "ivf_stream")
    # batch_id=-1: the stream-maintained layout is (cell, batch_id) so
    # each micro-batch's dynamic overwrite is replay-idempotent
    ivf_persisted_topk(base, queries.limit(0), cents, inc_path, k=10, batch_id=-1)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    q = ivf_index_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        cents,
        inc_path,
        str(tmp_path / "chk"),
    )

    def vec(vec_id, embv):
        return json.dumps({"vec_id": vec_id, "embedding": embv})

    try:
        write_batch_file(str(src_dir), "b0.json", [vec(*r) for r in d1])
        q.processAllAvailable()
        write_batch_file(str(src_dir), "b1.json", [vec(*r) for r in d2])
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r["query_id"], r["cell"], r["neighbor_id"])
        for r in ivf_persisted_topk(
            emb, queries, cents, inc_path, k=10, rebuild=False
        ).collect()
    }
    full = {
        (r["query_id"], r["cell"], r["neighbor_id"])
        for r in ivf_persisted_topk(
            emb, queries, cents, str(tmp_path / "ivf_full"), k=10
        ).collect()
    }
    assert streamed == full
    assert spark.read.parquet(inc_path).count() == emb.count()

    # replay idempotency (ADVICE r10): foreachBatch is at-least-once —
    # re-landing the second micro-batch under ITS OWN batch_id must
    # overwrite its (cell, batch_id) partitions, not duplicate vectors
    # into served top-k
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_append,
    )

    d2_df = spark.createDataFrame(d2, "vec_id long, embedding array<double>")
    ivf_persisted_append(d2_df, cents, inc_path, batch_id=1)
    assert spark.read.parquet(inc_path).count() == emb.count()
    replayed = {
        (r["query_id"], r["cell"], r["neighbor_id"])
        for r in ivf_persisted_topk(
            emb, queries, cents, inc_path, k=10, rebuild=False
        ).collect()
    }
    assert replayed == full


def test_front_door_stream_chains_all_five_gates(spark, tmp_path, monkeypatch):
    """INTEGRATION of the whole crawl front door (VERDICT r9 item 7):
    quality + exact-dup + near-dup + DSIR + semantic + tokenize
    chained over ONE stream, with at least one document eliminated by
    EACH gate, across 2 micro-batches — and the composed kept-set
    (docs AND token encodings) equals composing the batch operators
    over the union of the batches."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semantic_contamination_flags,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_encode_with_lexicon,
        bpe_train,
        dsir_fit_weights,
        dsir_score_with_weights,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        front_door_stream,
    )

    # --- static artifacts, one per gate ---------------------------------
    corpus = spark.createDataFrame(
        [(100, "en", "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, lang string, text string",
    )
    wf = spark.createDataFrame(
        [("cat", 5), ("meow", 4), ("purr", 4), ("low", 5), ("newest", 6)],
        "tok string, c long",
    )
    lexicon = bpe_train(wf, rounds=6, emit="lexicon")
    fit_corpus = spark.createDataFrame(
        [
            ("cat meow purr cat meow", True),
            ("cat purr whiskers cat", True),
            ("meow cat purr purr", True),
            ("dog bark woof growl", False),
            ("lorem ipsum dolor sit", False),
        ],
        "text string, tgt boolean",
    )
    weights = dsir_fit_weights(fit_corpus, F.col("tgt"))
    evals = spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0]), (901, [0.0, 1.0, 0.0])],
        "eval_id long, eval_vec array<double>",
    )
    clean_vec, contam_vec = [0.0, 0.0, 1.0], [1.01, 0.002, 0.002]
    doc_embeddings = spark.createDataFrame(
        # doc 7 deliberately has NO row -> semantic gate fails closed
        [(1, clean_vec), (4, clean_vec), (5, clean_vec), (6, contam_vec),
         (8, clean_vec), (9, clean_vec)],
        "doc_id long, embedding array<double>",
    )

    # --- stream content: one casualty per gate --------------------------
    texts = {
        1: "cat meow purr low newest content",        # survives everything
        3: "12 34 56 78 90 11",                       # quality gate (alpha)
        4: "the quick brown fox jumps over the lazy cat today",  # near-dup
        5: "dog bark growl woof lorem ipsum",         # DSIR gate
        6: "cat purr meow newest fresh words",        # semantic gate (contam)
        7: "cat meow newest purr other words",        # no embedding -> closed
        8: "purr cat meow low unique finale",         # survives (batch 2)
        9: "cat meow purr low newest content",        # exact dup of doc 1
    }
    batch_docs = spark.createDataFrame(
        [(i, "en", t) for i, t in texts.items() if i != 9],
        "doc_id long, lang string, text string",
    )
    # pick a DSIR threshold that splits the cat docs from doc 5
    scores = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_score_with_weights(batch_docs, weights, "doc_id").collect()
    }
    thr = (scores[5] + min(s for i, s in scores.items() if i != 5)) / 2
    assert all(s > thr for i, s in scores.items() if i not in (3, 5))

    # --- batch composition (the ground truth) ---------------------------
    q_docs = batch_docs.filter(F.col("doc_id") != 3)  # quality casualty
    nd_hits = (
        delta_corpus_jaccard_pairs(
            q_docs, corpus, id_col="doc_id", block_cols=["lang"],
            min_jaccard=0.5, max_doc_freq=50,
        ).select(F.col("delta_id").alias("doc_id")).distinct()
    )
    survivors = q_docs.join(nd_hits, "doc_id", "left_anti")
    survivors = survivors.join(
        dsir_score_with_weights(survivors, weights, "doc_id")
        .filter(F.col("dsir_logratio") >= thr).select("doc_id"),
        "doc_id",
    )
    vecs = survivors.select("doc_id").join(doc_embeddings, "doc_id").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    clean = (
        semantic_contamination_flags(vecs, evals)
        .filter(~F.col("is_contaminated"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    survivors = survivors.join(clean, "doc_id", "left_semi")
    want_docs = {r["doc_id"] for r in survivors.collect()}
    assert want_docs == {1, 8}  # every other doc fell to exactly one gate
    want_tokens = {
        (r["doc_id"], r["n_subwords"], r["subwords"])
        for r in bpe_encode_with_lexicon(survivors, lexicon).collect()
    }

    # --- the stream ------------------------------------------------------
    def doc(doc_id, text):
        return json.dumps({"doc_id": doc_id, "lang": "en", "text": text})

    # each gate operator is looked up by module attribute when it runs,
    # so a wrapper installed there (a profiler's timer) sees every call
    import importlib

    calls = []
    for mod, fn in (
        ("dedup", "delta_corpus_jaccard_pairs"),
        ("text", "dsir_score_with_weights"),
        ("similarity", "semantic_contamination_flags"),
        ("text", "bpe_encode_with_lexicon"),
    ):
        module = importlib.import_module(
            f"spark_streaming_kafka2elasticsearch_spark.operators.{mod}"
        )

        def counted(*args, _inner=getattr(module, fn), _fn=fn, **kwargs):
            calls.append(_fn)
            return _inner(*args, **kwargs)

        monkeypatch.setattr(module, fn, counted)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = front_door_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        corpus,
        lexicon,
        weights,
        doc_embeddings,
        evals,
        sink_dir,
        str(tmp_path / "chk"),
        min_tokens=3,
        min_alpha_ratio=0.3,
        min_jaccard=0.5,
        min_logratio=thr,
    )
    try:
        write_batch_file(
            str(src_dir), "b0.json",
            [doc(i, texts[i]) for i in (1, 3, 4, 5)],
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir), "b1.json",
            [doc(i, texts[i]) for i in (6, 7, 8, 9)],  # 9 = exact dup of 1
        )
        q.processAllAvailable()
        got_docs = {
            r["doc_id"]: r["dsir_logratio"]
            for r in spark.read.parquet(os.path.join(sink_dir, "docs")).collect()
        }
        got_tokens = {
            (r["doc_id"], r["n_subwords"], r["subwords"])
            for r in spark.read.parquet(
                os.path.join(sink_dir, "tokens")
            ).collect()
        }
    finally:
        q.stop()
    assert set(got_docs) == want_docs
    for i in want_docs:
        assert abs(got_docs[i] - scores[i]) < 1e-12
    assert got_tokens == want_tokens
    assert set(calls) == {
        "delta_corpus_jaccard_pairs", "dsir_score_with_weights",
        "semantic_contamination_flags", "bpe_encode_with_lexicon",
    }


def test_front_door_feeds_ivf_index_maintenance(spark, tmp_path):
    """Front door -> index maintenance composition (VERDICT r10 item
    8): survivors' embeddings append into the SERVED IVF layout inside
    the same foreachBatch, and after >= 2 micro-batches serving from
    the stream-maintained index equals a batch rebuild over base ∪
    survivors — gate, land, and make searchable within one trigger."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_topk,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_train,
        dsir_fit_weights,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        front_door_stream,
    )

    # permissive gate artifacts: every streamed doc survives
    corpus = spark.createDataFrame(
        [(900, "en", "completely unrelated reference corpus line")],
        "doc_id long, lang string, text string",
    )
    wf = spark.createDataFrame(
        [("cat", 5), ("meow", 4), ("purr", 4)], "tok string, c long"
    )
    lexicon = bpe_train(wf, rounds=4, emit="lexicon")
    weights = dsir_fit_weights(
        spark.createDataFrame(
            [("cat meow purr", True), ("dog bark woof", False)],
            "text string, tgt boolean",
        ),
        F.col("tgt"),
    )
    evals = spark.createDataFrame(
        [(800, [1.0, 0.0, 0.0, 0.0])], "eval_id long, eval_vec array<double>"
    )
    embs = {
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.9, 0.1, 0.0],
        3: [0.0, 0.0, 1.0, 0.1],
        4: [0.0, 0.1, 0.0, 1.0],
    }
    doc_embeddings = spark.createDataFrame(
        [(i, v) for i, v in embs.items()], "doc_id long, embedding array<double>"
    )

    # the served index: base shard + 2-cell quantizer, two-level layout
    base = spark.createDataFrame(
        [(1000, [0.0, 1.0, 0.05, 0.0]), (1001, [0.0, 0.0, 0.95, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    queries = cents.select(
        F.col("centroid_id").alias("query_id"),
        F.col("centroid_vec").alias("query_embedding"),
    )
    index_path = str(tmp_path / "served_ivf")
    ivf_persisted_topk(base, queries.limit(0), cents, index_path, k=10,
                       batch_id=-1)

    def doc(doc_id, text):
        return json.dumps({"doc_id": doc_id, "lang": "en", "text": text})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = front_door_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        corpus,
        lexicon,
        weights,
        doc_embeddings,
        evals,
        sink_dir,
        str(tmp_path / "chk"),
        min_tokens=1,
        min_alpha_ratio=0.0,
        min_logratio=-1e9,
        ivf_index_path=index_path,
        ivf_centroids=cents,
    )
    try:
        write_batch_file(
            str(src_dir), "b0.json",
            [doc(1, "cat meow purr one"), doc(2, "meow cat two")],
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir), "b1.json",
            [doc(3, "purr purr three"), doc(4, "cat four words")],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    # every doc survived and landed
    landed = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(sink_dir, "docs")).collect()
    }
    assert landed == set(embs)

    # serving from the stream-maintained index == batch rebuild over
    # base ∪ survivors (both pins existed separately; this is the
    # composed contract)
    union = base.union(doc_embeddings.select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ))
    streamed = {
        (r["query_id"], r["cell"], r["neighbor_id"])
        for r in ivf_persisted_topk(
            union, queries, cents, index_path, k=10, rebuild=False
        ).collect()
    }
    full = {
        (r["query_id"], r["cell"], r["neighbor_id"])
        for r in ivf_persisted_topk(
            union, queries, cents, str(tmp_path / "rebuilt"), k=10
        ).collect()
    }
    assert streamed == full
    assert spark.read.parquet(index_path).count() == union.count()


def test_interval_grammar_names_supported_units():
    """ADVICE r12 (low): _interval_to_us accepts day units and rejects
    unsupported grammar with an error NAMING what it accepts, instead
    of a bare KeyError at stream start."""
    import pytest as _pytest

    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        _interval_to_us,
    )

    assert _interval_to_us("30 minutes") == 30 * 60_000_000
    assert _interval_to_us("1 day") == 86_400_000_000
    assert _interval_to_us("2 days") == 2 * 86_400_000_000
    with _pytest.raises(ValueError, match="day, days, hour"):
        _interval_to_us("90s")
    with _pytest.raises(ValueError, match="compound"):
        _interval_to_us("1 day 2 hours")
    with _pytest.raises(ValueError, match="fortnight"):
        _interval_to_us("3 fortnight")
    # ADVICE r13: negative/zero quantities must be rejected too — a
    # '-30 minutes' that validates would flow negative microseconds
    # into watermark/window arithmetic.
    with _pytest.raises(ValueError, match="positive int"):
        _interval_to_us("-30 minutes")
    with _pytest.raises(ValueError, match="positive int"):
        _interval_to_us("0 minutes")


def test_attribution_stream_stream_join_matches_batch(spark, tmp_path):
    """STREAM-STREAM inner join (attribution_stream): clicks and
    purchases arrive as two separate file streams across multiple
    micro-batch files, and the joined output equals the batch
    time-bounded interval join over the union — including a click
    that arrives in a LATER file than its purchase (the cross-batch
    buffering a stream-static join cannot do)."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        attribution_stream,
    )

    base_us = 1_700_000_000_000_000  # an arbitrary fixed epoch µs

    def ev(event_id, user_id, mins):
        return json.dumps(
            {
                "event_id": event_id,
                "user_id": user_id,
                "ts_us": base_us + mins * 60_000_000,
            }
        )

    clicks_dir = tmp_path / "clicks"
    purch_dir = tmp_path / "purch"
    clicks_dir.mkdir()
    purch_dir.mkdir()

    # user 1: clicks at t=0,10,40; purchase at t=30 -> clicks 0,10 match
    # (40 is after), click 0 is exactly 30 min before -> in [p-30, p) OK
    # user 2: click at t=5; purchase at t=50 -> too old, no match
    # user 3: purchase at t=20 arrives FIRST, its click t=15 arrives in
    # a later file -> the stream must buffer the purchase and still match
    write_batch_file(
        str(clicks_dir), "c0.json", [ev(100, 1, 0), ev(101, 1, 10), ev(102, 2, 5)]
    )
    write_batch_file(str(purch_dir), "p0.json", [ev(200, 1, 30), ev(201, 3, 20)])

    out = attribution_stream(
        spark,
        JsonDirSource(str(clicks_dir), as_kafka_envelope=True),
        JsonDirSource(str(purch_dir), as_kafka_envelope=True),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attribution_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch_file(
            str(clicks_dir), "c1.json", [ev(103, 1, 40), ev(104, 3, 15)]
        )
        write_batch_file(str(purch_dir), "p1.json", [ev(202, 2, 50)])
        q.processAllAvailable()
        got = {
            (r["purchase_id"], r["click_id"], r["secs_before"])
            for r in spark.sql("select * from attribution_out").collect()
        }
    finally:
        q.stop()

    want = {
        (200, 100, 1800),  # exactly 30 min before: c_us >= p_us - 30min
        (200, 101, 1200),
        (201, 104, 300),   # click arrived a file AFTER its purchase
    }
    assert got == want


def test_attribution_stream_left_outer_emits_after_watermark(spark, tmp_path):
    """Outer stream-stream join semantics: an unmatched purchase emits
    its NULL-click row only once the watermark has passed the end of
    its match window (earlier emission could be contradicted by a late
    click); matched purchases emit immediately."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        attribution_stream,
    )

    base_us = 1_700_000_000_000_000

    def ev(event_id, user_id, mins):
        return json.dumps(
            {
                "event_id": event_id,
                "user_id": user_id,
                "ts_us": base_us + mins * 60_000_000,
            }
        )

    clicks_dir = tmp_path / "clicks"
    purch_dir = tmp_path / "purch"
    clicks_dir.mkdir()
    purch_dir.mkdir()

    # user 1 purchase has a click -> inner row, immediate
    # user 2 purchase has NO click -> must wait for the watermark
    write_batch_file(str(clicks_dir), "c0.json", [ev(100, 1, 25)])
    write_batch_file(str(purch_dir), "p0.json", [ev(200, 1, 30), ev(201, 2, 30)])

    out = attribution_stream(
        spark,
        JsonDirSource(str(clicks_dir), as_kafka_envelope=True),
        JsonDirSource(str(purch_dir), as_kafka_envelope=True),
        how="left_outer",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attribution_outer")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r["purchase_id"], r["click_id"])
            for r in spark.sql("select * from attribution_outer").collect()
        }
        # watermark hasn't passed purchase 201's window end yet: only
        # the matched row is out
        assert first == {(200, 100)}
        # far-future events on BOTH sides push both watermarks past
        # t=60 (purchase 201's window closed at t=30); the unmatched
        # purchase must now flush with NULL click columns
        write_batch_file(str(clicks_dir), "c1.json", [ev(101, 9, 500)])
        write_batch_file(str(purch_dir), "p1.json", [ev(299, 9, 500)])
        q.processAllAvailable()
        q.processAllAvailable()
        rows = spark.sql("select * from attribution_outer").collect()
    finally:
        q.stop()
    got = {(r["purchase_id"], r["click_id"], r["secs_before"]) for r in rows}
    assert (201, None, None) in got, got
    assert (200, 100, 300) in got


def test_kn_perplexity_gate_stream_matches_batch_scorer(spark, tmp_path):
    """Streaming KN perplexity gate: micro-batches score under the
    static bigram model inside foreachBatch, only docs at or below
    the NLL threshold land in the sink, OOV bigrams are excluded but
    counted, and the kept rows equal the BATCH scorer bit-for-bit
    (streaming = batch per micro-batch)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        kn_bigram_model,
        kn_doc_scores,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        kn_perplexity_gate_stream,
    )

    fit_corpus = spark.createDataFrame(
        [
            ("the cat sat on the mat",),
            ("the cat sat on the rug",),
            ("the dog sat on the mat",),
            ("a dog ran in the park",),
        ],
        "text string",
    )
    model = kn_bigram_model(fit_corpus)

    def doc(doc_id, text):
        return json.dumps({"doc_id": doc_id, "lang": "en", "text": text})

    rows = [
        (1, "the cat sat on the mat"),      # in-domain: low NLL
        (2, "a dog ran in the park"),       # in-domain
        (3, "zx qq vv zx qq"),              # fully OOV: no score, no row
        (4, "the cat ran in the mat"),      # mixed, some rarer bigrams
    ]
    batch_docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["kn_nll"])
        for r in kn_doc_scores(batch_docs, model).collect()
    }
    assert 3 not in batch  # fully-OOV doc has no defined perplexity
    nlls = sorted(v[2] for v in batch.values())
    thr = (nlls[0] + nlls[-1]) / 2  # split kept vs dropped
    want_kept = {i for i, v in batch.items() if v[2] <= thr}
    assert want_kept and want_kept != set(batch)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = kn_perplexity_gate_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        model,
        sink_dir,
        str(tmp_path / "chk"),
        max_nll=thr,
    )
    try:
        write_batch_file(
            str(src_dir), "b0.json", [doc(*rows[0]), doc(*rows[2])]
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir), "b1.json", [doc(*rows[1]), doc(*rows[3])]
        )
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["kn_nll"])
            for r in spark.read.parquet(sink_dir).collect()
        }
    finally:
        q.stop()
    assert set(got) == want_kept
    for i in want_kept:
        assert got[i] == batch[i]  # bitwise: counts and NLL


def test_kn_perplexity_gate_stream_rejects_empty_model(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        kn_bigram_model,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        kn_perplexity_gate_stream,
    )

    empty = kn_bigram_model(
        spark.createDataFrame([("solo",)], "text string")
    )
    with pytest.raises(ValueError, match="empty KN model"):
        kn_perplexity_gate_stream(
            spark,
            JsonDirSource(str(tmp_path / "src"), as_kafka_envelope=True),
            empty,
            str(tmp_path / "sink"),
            str(tmp_path / "chk"),
        )


def test_gated_attribution_stream_matches_batch_join_over_union(
    spark, tmp_path
):
    """Front-door gates ∘ interval-join attribution in ONE foreachBatch
    (VERDICT r11 item 8): across two micro-batches — with a
    cross-batch match, a redelivered duplicate event, and an invalid
    row — the union of the per-batch Δ-join outputs must equal the
    batch interval join over the gated union (every pair exactly
    once, landing in the batch where its LATER side arrived)."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        gated_attribution_stream,
    )

    def ev(event_id, user_id, etype, ts_s):
        return json.dumps(
            {
                "event_id": event_id,
                "user_id": user_id,
                "event_type": etype,
                "ts_us": ts_s * 1_000_000,
            }
        )

    b0 = [
        ev(1, 7, "click", 100),
        ev(2, 7, "purchase", 200),      # matches click 1 (same batch)
        ev(3, 8, "click", 500),
        ev(99, None, "click", 10),      # invalid: null user — gated out
    ]
    b1 = [
        ev(4, 8, "purchase", 900),      # matches click 3 (CROSS batch)
        ev(5, 7, "click", 150),         # matches purchase 2 (prev P, Δ C)
        ev(3, 8, "click", 500),         # duplicate redelivery — gated out
        ev(6, 9, "purchase", 5000),     # no click in window
    ]
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = str(tmp_path / "sink")
    q = gated_attribution_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        sink_dir,
        str(tmp_path / "chk"),
        window="30 minutes",
    )
    try:
        write_batch_file(str(src_dir), "b0.json", b0)
        q.processAllAvailable()
        write_batch_file(str(src_dir), "b1.json", b1)
        q.processAllAvailable()
        got = {
            (r["purchase_id"], r["user_id"], r["click_id"], r["secs_before"])
            for r in spark.read.parquet(f"{sink_dir}/attribution").collect()
        }
        landed = spark.read.parquet(f"{sink_dir}/events")
    finally:
        q.stop()

    # gated union: invalid + duplicate rows absent, each event once
    assert sorted(
        (r["event_id"], r["batch_id"]) for r in landed.collect()
    ) == [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)]
    # batch twin over the gated union
    p = landed.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("p_us"),
    )
    c = landed.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("c_us"),
    )
    want = {
        (r["purchase_id"], r["user_id"], r["click_id"], r["secs_before"])
        for r in p.join(
            c,
            (p.user_id == c.c_user)
            & (c.c_us >= p.p_us - 1_800_000_000)
            & (c.c_us < p.p_us),
        )
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.expr("(p_us - c_us) div 1000000").alias("secs_before"),
        )
        .collect()
    }
    assert got == want
    # the expected pair set itself: same-batch, cross-batch, prev-P×ΔC
    assert got == {(2, 7, 1, 100), (4, 8, 3, 400), (2, 7, 5, 50)}


def test_knn_graph_maintenance_stream_equals_full_rebuild(
    spark, tmp_path, monkeypatch
):
    """Streaming graph maintenance: after two micro-batches (the
    second containing a redelivered duplicate of a batch-0 vector),
    the at-rest edge list must be BIT-EQUAL to a batch knn_graph
    rebuild over every distinct ingested vector — the
    ivf_index_maintenance contract lifted to the edge relation.
    Batch 1's edge swap crashes once between its renames (the old
    edges are aside, the new ones staged); the restart on the same
    checkpoint replays batch 1 over the restored old edges."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        knn_graph,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        knn_graph_maintenance_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    rows = {
        r["vec_id"]: list(r["embedding"]) for r in emb.limit(40).collect()
    }
    ids = sorted(rows)
    b0_ids, b1_ids = ids[:25], ids[25:]

    def vec(i):
        return json.dumps({"vec_id": i, "embedding": rows[i]})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    graph_path = str(tmp_path / "graph")

    def start():
        return knn_graph_maintenance_stream(
            spark,
            JsonDirSource(str(src_dir), as_kafka_envelope=True),
            cents,
            graph_path,
            str(tmp_path / "chk"),
            k=5,
            n_probe=2,
        )

    rename = os.rename
    staged = []

    def crash_on_batch1_edges(src, dst):
        if os.path.basename(src).startswith("edges__tmp_"):
            staged.append(src)
            if len(staged) == 2:
                raise OSError("crash while renaming batch 1's edges in")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_batch1_edges)
    q = start()
    try:
        write_batch_file(str(src_dir), "b0.json", [vec(i) for i in b0_ids])
        q.processAllAvailable()
        # batch 1 includes a REDELIVERED batch-0 vector: the anti-join
        # must drop it or its id would double-occupy top-k slots
        write_batch_file(
            str(src_dir), "b1.json", [vec(i) for i in b1_ids] + [vec(b0_ids[0])]
        )
        with pytest.raises(Exception, match="crash while renaming"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert len(staged) == 2
    assert not os.path.exists(f"{graph_path}/edges")
    monkeypatch.setattr(os, "rename", rename)
    q = start()
    try:
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{graph_path}/edges").collect()
        }
        n_corpus = (
            spark.read.parquet(f"{graph_path}/corpus")
            .select("vec_id")
            .distinct()
            .count()
        )
    finally:
        q.stop()
    assert n_corpus == len(ids)
    full = emb.filter(F.col("vec_id").isin(ids))
    want = {
        tuple(r) for r in knn_graph(full, cents, k=5, n_probe=2).collect()
    }
    assert got == want


def test_descent_graph_maintenance_stream_equals_batch_refresh(
    spark, tmp_path
):
    """Streaming NN-Descent maintenance (descent_graph_maintenance
    _stream): after two micro-batches — the second containing a
    redelivered duplicate of a batch-0 vector the anti-join must drop
    — the at-rest edge list must be BIT-EQUAL to the sequential batch
    path (full descent build over batch 0, then nn_descent_refresh of
    batch 1's distinct delta).  Equality is vs the refresh TRAJECTORY,
    not a full rebuild — the operator's own ≥0.9 recall pin covers
    refresh-vs-rebuild."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_graph,
        nn_descent_refresh,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        descent_graph_maintenance_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = {
        r["vec_id"]: list(r["embedding"]) for r in emb.limit(40).collect()
    }
    ids = sorted(rows)
    b0_ids, b1_ids = ids[:25], ids[25:]

    def vec(i):
        return json.dumps({"vec_id": i, "embedding": rows[i]})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    graph_path = str(tmp_path / "dgraph")
    q = descent_graph_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        graph_path,
        str(tmp_path / "chk"),
        k=6,
        k_build=12,
        build_rounds=3,
        refresh_rounds=2,
        occupancy=32,
        ring=2,
        dim=64,
    )
    try:
        write_batch_file(str(src_dir), "b0.json", [vec(i) for i in b0_ids])
        q.processAllAvailable()
        write_batch_file(
            str(src_dir), "b1.json", [vec(i) for i in b1_ids] + [vec(b0_ids[0])]
        )
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{graph_path}/edges")
            .select("src", "dst", "rank")
            .collect()
        }
        n_corpus = (
            spark.read.parquet(f"{graph_path}/corpus")
            .select("vec_id")
            .distinct()
            .count()
        )
    finally:
        q.stop()
    assert n_corpus == len(ids)
    old = emb.filter(F.col("vec_id").isin(b0_ids))
    delta = emb.filter(F.col("vec_id").isin(b1_ids))
    g0 = nn_descent_graph(
        old, k=6, k_build=12, dim=64, rounds=3, occupancy=32, ring=2
    ).select("src", "dst", "rank")
    want = {
        tuple(r)
        for r in nn_descent_refresh(
            g0,
            emb.filter(F.col("vec_id").isin(ids)),
            delta,
            k=6,
            k_build=12,
            dim=64,
            rounds=2,
            occupancy=32,
            ring=2,
        ).select("src", "dst", "rank").collect()
    }
    assert got == want and got


def test_descent_graph_maintenance_stream_replay_after_crash(
    spark, tmp_path
):
    """The edges-before-corpus crash window (ADVICE r13): edges for
    batch 1 already landed (stamped ``_batch_id=1``) but the corpus
    partition did not.  On replay the maintain loop must SKIP the
    refresh — old_edges already contain the delta ids, so refreshing
    again would violate nn_descent_refresh's precondition — and just
    land the missing corpus partition: edges afterwards are bit-equal
    to the stamped set, corpus is complete."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_graph,
        nn_descent_refresh,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        descent_graph_maintenance_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = {
        r["vec_id"]: list(r["embedding"]) for r in emb.limit(36).collect()
    }
    ids = sorted(rows)
    b0_ids, b1_ids = ids[:24], ids[24:]

    def vec(i):
        return json.dumps({"vec_id": i, "embedding": rows[i]})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    graph_path = str(tmp_path / "dgraph")
    chk = str(tmp_path / "chk")
    kwargs = dict(
        k=6,
        k_build=12,
        build_rounds=3,
        refresh_rounds=2,
        occupancy=32,
        ring=2,
        dim=64,
    )
    q = descent_graph_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        graph_path,
        chk,
        **kwargs,
    )
    try:
        write_batch_file(str(src_dir), "b0.json", [vec(i) for i in b0_ids])
        q.processAllAvailable()
    finally:
        q.stop()

    # Emulate the crashed batch 1: its edge rewrite landed (stamped
    # _batch_id=1), the corpus partition did not.
    old = emb.filter(F.col("vec_id").isin(b0_ids))
    delta = emb.filter(F.col("vec_id").isin(b1_ids))
    g0 = nn_descent_graph(
        old, k=6, k_build=12, dim=64, rounds=3, occupancy=32, ring=2
    ).select("src", "dst", "rank")
    refreshed = (
        nn_descent_refresh(
            g0,
            emb.filter(F.col("vec_id").isin(ids)),
            delta,
            k=6,
            k_build=12,
            dim=64,
            rounds=2,
            occupancy=32,
            ring=2,
        )
        .select("src", "dst", "rank")
        .withColumn("_batch_id", F.lit(1))
        .localCheckpoint(eager=True)
    )
    refreshed.write.mode("overwrite").parquet(f"{graph_path}/edges")
    want = {
        tuple(r)
        for r in refreshed.select("src", "dst", "rank").collect()
    }

    # Replay: restart on the same checkpoint; b1 arrives as batch 1.
    write_batch_file(str(src_dir), "b1.json", [vec(i) for i in b1_ids])
    q = descent_graph_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        graph_path,
        chk,
        **kwargs,
    )
    try:
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{graph_path}/edges")
            .select("src", "dst", "rank")
            .collect()
        }
        stamp = (
            spark.read.parquet(f"{graph_path}/edges")
            .agg(F.max("_batch_id").alias("b"))
            .first()["b"]
        )
        n_corpus = (
            spark.read.parquet(f"{graph_path}/corpus")
            .select("vec_id")
            .distinct()
            .count()
        )
    finally:
        q.stop()
    assert n_corpus == len(ids)
    assert stamp == 1
    assert got == want and got


def test_descent_graph_erasure_stream_equals_batch_deletes(spark, tmp_path):
    """Streaming GDPR erasure (descent_graph_erasure_stream): after an
    ingest batch lays the graph down and two erasure micro-batches
    arrive — the second containing a REDELIVERED id from the first
    (must be a no-op via the corpus anti-join) and an UNKNOWN id —
    the at-rest edge list must be BIT-EQUAL to the sequential batch
    path (descent build, then nn_descent_delete per erasure batch),
    and the corpus partitions must have the deleted rows surgically
    removed."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_delete,
        nn_descent_graph,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        descent_graph_erasure_stream,
        descent_graph_maintenance_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = {
        r["vec_id"]: list(r["embedding"]) for r in emb.limit(40).collect()
    }
    ids = sorted(rows)

    def vec(i):
        return json.dumps({"vec_id": i, "embedding": rows[i]})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    graph_path = str(tmp_path / "egraph")
    q = descent_graph_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        graph_path,
        str(tmp_path / "chk_ingest"),
        k=6,
        k_build=12,
        build_rounds=3,
        refresh_rounds=2,
        occupancy=32,
        ring=2,
        dim=64,
    )
    try:
        write_batch_file(str(src_dir), "b0.json", [vec(i) for i in ids])
        q.processAllAvailable()
    finally:
        q.stop()

    e0 = ids[3:8]
    e1 = ids[20:24]
    del_dir = tmp_path / "dels"
    del_dir.mkdir()
    qe = descent_graph_erasure_stream(
        spark,
        JsonDirSource(str(del_dir), as_kafka_envelope=True),
        graph_path,
        str(tmp_path / "chk_erase"),
        k=6,
        k_build=12,
        dim=64,
        occupancy=32,
        rounds=1,
    )
    try:
        write_batch_file(
            str(del_dir), "e0.json", [json.dumps({"vec_id": i}) for i in e0]
        )
        qe.processAllAvailable()
        write_batch_file(
            str(del_dir),
            "e1.json",
            [json.dumps({"vec_id": i}) for i in e1]
            + [json.dumps({"vec_id": e0[0]})]      # redelivered
            + [json.dumps({"vec_id": 999_999})],   # unknown
        )
        qe.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{graph_path}/edges")
            .select("src", "dst", "rank")
            .collect()
        }
        corpus_ids = {
            r.vec_id
            for r in spark.read.parquet(f"{graph_path}/corpus").collect()
        }
    finally:
        qe.stop()

    survive1 = [i for i in ids if i not in e0]
    survive2 = [i for i in survive1 if i not in e1]
    assert corpus_ids == set(survive2)
    g0 = nn_descent_graph(
        emb.filter(F.col("vec_id").isin(ids)),
        k=6, k_build=12, dim=64, rounds=3, occupancy=32, ring=2,
    ).select("src", "dst", "rank")
    d1 = nn_descent_delete(
        g0,
        emb.filter(F.col("vec_id").isin(survive1)),
        spark.createDataFrame([(i,) for i in e0], "vec_id long"),
        k=6, k_build=12, dim=64, rounds=1, occupancy=32,
    ).select("src", "dst", "rank").localCheckpoint(eager=True)
    d2 = nn_descent_delete(
        d1,
        emb.filter(F.col("vec_id").isin(survive2)),
        spark.createDataFrame([(i,) for i in e1], "vec_id long"),
        k=6, k_build=12, dim=64, rounds=1, occupancy=32,
    ).select("src", "dst", "rank")
    want = {tuple(r) for r in d2.collect()}
    assert got == want and got


def test_descent_graph_erasure_stream_replay_and_writer_scoped_stamp(
    spark, tmp_path
):
    """The erasure stream's edges-before-corpus crash window plus the
    WRITER-SCOPED stamp contract.  Phase 1 (replay): edges for erasure
    batch 0 already landed (stamped ``_erase_batch_id=0``) but the
    corpus surgery did not — on replay the erase loop must skip the
    recompute (its own stamp is current; the ingest stream's
    ``_batch_id=0`` stamp must NOT be what satisfies the guard) and
    just finish the corpus surgery: edges bit-equal to the stamped
    set, deleted ids gone from the corpus.  Phase 2 (writer switch):
    the erasure rewrite dropped the maintenance stream's ``_batch_id``
    column, so a LATER maintenance batch on the original checkpoint
    must fall through its own guard (applied=None → safe recompute)
    and fold new vectors in — bit-equal to the sequential
    nn_descent_refresh over the post-erasure state."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_delete,
        nn_descent_refresh,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        descent_graph_erasure_stream,
        descent_graph_maintenance_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = {
        r["vec_id"]: list(r["embedding"]) for r in emb.limit(40).collect()
    }
    ids = sorted(rows)
    b0_ids, b1_ids = ids[:32], ids[32:]
    e0 = b0_ids[5:10]

    def vec(i):
        return json.dumps({"vec_id": i, "embedding": rows[i]})

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    graph_path = str(tmp_path / "rgraph")
    chk_ingest = str(tmp_path / "chk_ingest")
    kwargs = dict(
        k=6, k_build=12, build_rounds=3, refresh_rounds=2,
        occupancy=32, ring=2, dim=64,
    )
    q = descent_graph_maintenance_stream(
        spark, JsonDirSource(str(src_dir), as_kafka_envelope=True),
        graph_path, chk_ingest, **kwargs,
    )
    try:
        write_batch_file(str(src_dir), "b0.json", [vec(i) for i in b0_ids])
        q.processAllAvailable()
    finally:
        q.stop()

    # Emulate crashed erasure batch 0: stamped edge rewrite landed,
    # corpus surgery did not (e0 still present in corpus/).
    survive1 = [i for i in b0_ids if i not in e0]
    deleted = nn_descent_delete(
        spark.read.parquet(f"{graph_path}/edges").select("src", "dst", "rank"),
        emb.filter(F.col("vec_id").isin(survive1)),
        spark.createDataFrame([(i,) for i in e0], "vec_id long"),
        k=6, k_build=12, dim=64, rounds=1, occupancy=32,
    ).select("src", "dst", "rank").withColumn(
        "_erase_batch_id", F.lit(0)
    ).localCheckpoint(eager=True)
    deleted.write.mode("overwrite").parquet(f"{graph_path}/edges")
    want_edges = {
        tuple(r) for r in deleted.select("src", "dst", "rank").collect()
    }

    del_dir = tmp_path / "dels"
    del_dir.mkdir()
    qe = descent_graph_erasure_stream(
        spark, JsonDirSource(str(del_dir), as_kafka_envelope=True),
        graph_path, str(tmp_path / "chk_erase"),
        k=6, k_build=12, dim=64, occupancy=32, rounds=1,
    )
    try:
        write_batch_file(
            str(del_dir), "e0.json", [json.dumps({"vec_id": i}) for i in e0]
        )
        qe.processAllAvailable()
        edges_after = spark.read.parquet(f"{graph_path}/edges")
        got_edges = {
            tuple(r)
            for r in edges_after.select("src", "dst", "rank").collect()
        }
        stamp = edges_after.agg(
            F.max("_erase_batch_id").alias("b")
        ).first()["b"]
        corpus_ids = {
            r.vec_id
            for r in spark.read.parquet(f"{graph_path}/corpus").collect()
        }
    finally:
        qe.stop()
    assert got_edges == want_edges and got_edges   # skip path: no recompute
    assert stamp == 0
    assert corpus_ids == set(survive1)             # surgery finished

    # Phase 2: writer switch back to maintenance — _batch_id column is
    # gone from edges/, so its guard must take the safe recompute path.
    want_refreshed = {
        tuple(r)
        for r in nn_descent_refresh(
            deleted.select("src", "dst", "rank"),
            emb.filter(F.col("vec_id").isin(survive1 + b1_ids)),
            emb.filter(F.col("vec_id").isin(b1_ids)),
            k=6, k_build=12, dim=64, rounds=2, occupancy=32, ring=2,
        ).select("src", "dst", "rank").collect()
    }
    write_batch_file(str(src_dir), "b1.json", [vec(i) for i in b1_ids])
    q = descent_graph_maintenance_stream(
        spark, JsonDirSource(str(src_dir), as_kafka_envelope=True),
        graph_path, chk_ingest, **kwargs,
    )
    try:
        q.processAllAvailable()
        got_refreshed = {
            tuple(r)
            for r in spark.read.parquet(f"{graph_path}/edges")
            .select("src", "dst", "rank")
            .collect()
        }
        n_corpus = (
            spark.read.parquet(f"{graph_path}/corpus")
            .select("vec_id").distinct().count()
        )
    finally:
        q.stop()
    assert n_corpus == len(survive1) + len(b1_ids)
    assert got_refreshed == want_refreshed and got_refreshed


def test_lsh_gate_ingest_stream_equals_sequential_gate(spark, tmp_path):
    """Streaming LSH ingest gate (lsh_gate_ingest_stream): two
    micro-batches — the second REDELIVERING accepted and rejected docs
    from the first (accepted → dropped by the signature first-seen
    gate; rejected → re-probed and re-rejected; both no-ops) — must
    leave the at-rest index band table and the landed corpus
    partitions EQUAL to the sequential batch gate (probe → anti-join →
    append) over the same splits, and the gate must actually gate
    (at least one document rejected for a corpus near-dup)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.lsh_index import (
        minhash_lsh_append,
        minhash_lsh_persist,
        minhash_lsh_probe,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        lsh_gate_ingest_stream,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "text")
    )
    init = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 2)
    redelivered = b1.orderBy("doc_id").limit(5)
    params = dict(
        k_shingle=3, num_hashes=64, bands=16, hash_family="md5", n_parts=8
    )

    def envelopes(df):
        return [
            json.dumps(
                {"doc_id": r.doc_id, "lang": r.lang, "text": r.text}
            )
            for r in df.collect()
        ]

    # streamed
    s_path = str(tmp_path / "s_idx")
    minhash_lsh_persist(init, s_path, fingerprint="fp0", **params)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    q = lsh_gate_ingest_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        s_path,
        str(tmp_path / "chk"),
        static_corpus=init,
        min_jaccard=0.1,
    )
    try:
        write_batch_file(str(src_dir), "b1.json", envelopes(b1))
        q.processAllAvailable()
        write_batch_file(
            str(src_dir),
            "b2.json",
            envelopes(b2) + envelopes(redelivered),
        )
        q.processAllAvailable()
    finally:
        q.stop()

    # sequential twin
    t_path = str(tmp_path / "t_idx")
    minhash_lsh_persist(init, t_path, fingerprint="fp0", **params)
    corpus_texts = init
    survivor_sets = []
    for batch in (b1, b2.unionByName(redelivered)):
        batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
        indexed = spark.read.parquet(f"{t_path}/signatures").select("doc_id")
        fresh = batch.join(indexed, "doc_id", "left_anti")
        hits = (
            minhash_lsh_probe(
                spark, t_path, fresh, corpus_texts, min_jaccard=0.1
            )
            .select(F.col("query_id").alias("doc_id"))
            .distinct()
        )
        surv = fresh.join(hits, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        survivor_sets.append({r.doc_id for r in surv.collect()})
        minhash_lsh_append(t_path, surv)
        corpus_texts = corpus_texts.unionByName(surv)

    got_bands = {
        tuple(r)
        for r in spark.read.parquet(f"{s_path}/bands")
        .select("doc_id", "band_id", "band_hash")
        .collect()
    }
    want_bands = {
        tuple(r)
        for r in spark.read.parquet(f"{t_path}/bands")
        .select("doc_id", "band_id", "band_hash")
        .collect()
    }
    assert got_bands == want_bands and got_bands
    landed = spark.read.parquet(f"{s_path}/corpus")
    by_batch = {
        int(r.batch_id): set()
        for r in landed.select("batch_id").distinct().collect()
    }
    for r in landed.select("doc_id", "batch_id").collect():
        by_batch[int(r.batch_id)].add(r.doc_id)
    assert by_batch == {0: survivor_sets[0], 1: survivor_sets[1]}
    n_b1, n_b2 = b1.count(), b2.count()
    assert len(survivor_sets[0]) < n_b1 or len(survivor_sets[1]) < n_b2


def test_bm25_maintenance_and_erasure_streams_equal_batch(spark, tmp_path):
    """BM25 index maintenance + erasure streams: two ingest batches
    (second redelivers first-batch docs — first-seen no-op), then two
    erasure batches (second redelivers an erased id and an unknown id
    — anti-join no-ops), must leave serving bit-equal to the
    from-scratch operator over (init ∪ ingested) − erased, with the
    meta counters exactly matching ground truth."""
    from spark_streaming_kafka2elasticsearch_spark.operators.bm25_index import (
        bm25_index_persist,
        bm25_index_topk,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bm25_scores,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        bm25_index_erasure_stream,
        bm25_index_maintenance_stream,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "text")
    )
    init = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 2)
    b1_ids = [r.doc_id for r in b1.select("doc_id").collect()]
    erase_ids = b1_ids[:7]

    path = str(tmp_path / "bidx")
    bm25_index_persist(init, path, n_parts=8, fingerprint="fp0")

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    q = bm25_index_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        path,
        str(tmp_path / "chk_ingest"),
    )
    try:
        write_batch_file(
            str(src_dir), "b1.json",
            [json.dumps({"doc_id": r.doc_id, "lang": r.lang, "text": r.text})
             for r in b1.collect()],
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir), "b2.json",
            [json.dumps({"doc_id": r.doc_id, "lang": r.lang, "text": r.text})
             for r in b2.collect()]
            + [json.dumps({"doc_id": r.doc_id, "lang": r.lang, "text": r.text})
               for r in b1.limit(4).collect()],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    del_dir = tmp_path / "dels"
    del_dir.mkdir()
    qe = bm25_index_erasure_stream(
        spark,
        JsonDirSource(str(del_dir), as_kafka_envelope=True),
        path,
        str(tmp_path / "chk_erase"),
    )
    try:
        write_batch_file(
            str(del_dir), "e0.json",
            [json.dumps({"doc_id": i}) for i in erase_ids[:4]],
        )
        qe.processAllAvailable()
        write_batch_file(
            str(del_dir), "e1.json",
            [json.dumps({"doc_id": i}) for i in erase_ids[4:]]
            + [json.dumps({"doc_id": erase_ids[0]})]   # redelivered
            + [json.dumps({"doc_id": 999_999})],       # unknown
        )
        qe.processAllAvailable()
    finally:
        qe.stop()

    survivors = (
        init.unionByName(b1.select("doc_id", "text"))
        .unionByName(b2.select("doc_id", "text"))
        .filter(~F.col("doc_id").isin(erase_ids))
    )
    queries = survivors.filter(F.col("doc_id") < 20)
    got = bm25_index_topk(spark, path, queries, k=10)
    scored = bm25_scores(survivors, queries).filter(
        F.col("query_doc_id") != F.col("doc_id")
    )
    from pyspark.sql import Window as W

    part_w = W.partitionBy(F.spark_partition_id(), "query_doc_id").orderBy(
        F.desc("score_dec"), F.asc("doc_id")
    )
    local = scored.withColumn("_lr", F.row_number().over(part_w)).filter(
        F.col("_lr") <= 10
    )
    w = W.partitionBy("query_doc_id").orderBy(
        F.desc("score_dec"), F.asc("doc_id")
    )
    want = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_doc_id", "doc_id",
            F.col("rank").cast("int").alias("rank"), "score",
        )
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    } and got.count() > 0
    meta = json.load(open(f"{path}/_bm25_meta.json"))
    truth = (
        spark.read.parquet(f"{path}/doclens")
        .join(
            spark.read.parquet(f"{path}/tombstones"), "doc_id", "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .first()
    )
    assert (meta["n_docs"], meta["sum_dl"]) == (
        int(truth["n"]), int(truth["s"])
    )


def test_bm25_maintenance_crash_windows(spark, tmp_path):
    """The two partial-write crash windows have structural answers:
    (a) postings landed / doclens missing → the replay double-appends
    identical tf rows, the serve-side (doc_id, tok) dedup hides them,
    and compaction folds them away at rest; (b) appends landed / meta
    stale → bm25_index_reconcile restores the counters from the
    doclen ground truth (it runs at every stream start)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.bm25_index import (
        _tf_dl,
        bm25_index_append,
        bm25_index_compact,
        bm25_index_persist,
        bm25_index_reconcile,
        bm25_index_topk,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bm25_scores,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    init = docs.filter(F.col("doc_id") % 3 == 0)
    delta = docs.filter(F.col("doc_id") % 3 == 1)
    full = init.unionByName(delta)
    queries = full.filter(F.col("doc_id") < 10)

    # (a) emulate the crashed append: postings landed, doclens did not
    path = str(tmp_path / "cidx")
    bm25_index_persist(init, path, n_parts=8, fingerprint="fp0")
    tf, _dl = _tf_dl(delta, "doc_id", "text", 8)
    tf.write.mode("append").partitionBy("part").parquet(f"{path}/postings")
    # replay: the gate (doclens) re-admits the delta → double postings
    assert bm25_index_append(path, delta) == delta.count()
    dup = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dup > 0  # the window is real
    got = bm25_index_topk(spark, path, queries, k=10)
    ref_path = str(tmp_path / "ref")
    bm25_index_persist(full, ref_path, n_parts=8, fingerprint="fp0")
    want = bm25_index_topk(spark, ref_path, queries, k=10)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    } and got.count() > 0
    bm25_index_compact(spark, path)
    got_rows = {
        tuple(r)
        for r in spark.read.parquet(f"{path}/postings")
        .select("doc_id", "tok", "tf", "part")
        .collect()
    }
    want_rows = {
        tuple(r)
        for r in spark.read.parquet(f"{ref_path}/postings")
        .select("doc_id", "tok", "tf", "part")
        .collect()
    }
    assert got_rows == want_rows

    # (b) stale meta counters → reconcile restores ground truth
    meta = json.load(open(f"{path}/_bm25_meta.json"))
    true_pair = (meta["n_docs"], meta["sum_dl"])
    meta["n_docs"] -= 5
    meta["sum_dl"] -= 123
    json.dump(meta, open(f"{path}/_bm25_meta.json", "w"))
    assert bm25_index_reconcile(spark, path) == true_pair
    meta2 = json.load(open(f"{path}/_bm25_meta.json"))
    assert (meta2["n_docs"], meta2["sum_dl"]) == true_pair


def test_kn_lm_index_streams_equal_batch(spark, tmp_path):
    """LM-index maintenance + erasure streams: ingest two batches
    (second redelivers first-batch docs — doclog no-op), then erase in
    two batches (second redelivers an erased id and an unknown id —
    removed-gate no-ops), looking erased docs' text up from the
    stream's own landed corpus and the static pre-stream corpus.  The
    merged counts must equal the one-scan relation over the surviving
    live corpus, and the erased documents' text must be surgically
    gone from the landed partitions."""
    from spark_streaming_kafka2elasticsearch_spark.operators.lm_index import (
        kn_index_counts,
        kn_index_persist,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bigram_count_relation,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        kn_lm_index_erasure_stream,
        kn_lm_index_maintenance_stream,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "text")
    )
    init = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 2)
    b1_ids = [r.doc_id for r in b1.select("doc_id").collect()]
    init_ids = [r.doc_id for r in init.select("doc_id").collect()]
    # erase a mix: some stream-landed docs, one static-corpus doc
    erase_ids = b1_ids[:5] + [init_ids[0]]

    path = str(tmp_path / "lmx")
    kn_index_persist(init, path, n_parts=8, fingerprint="fp0")

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    q = kn_lm_index_maintenance_stream(
        spark,
        JsonDirSource(str(src_dir), as_kafka_envelope=True),
        path,
        str(tmp_path / "chk_ingest"),
    )
    try:
        write_batch_file(
            str(src_dir), "b1.json",
            [json.dumps({"doc_id": r.doc_id, "lang": r.lang, "text": r.text})
             for r in b1.collect()],
        )
        q.processAllAvailable()
        write_batch_file(
            str(src_dir), "b2.json",
            [json.dumps({"doc_id": r.doc_id, "lang": r.lang, "text": r.text})
             for r in b2.collect()]
            + [json.dumps({"doc_id": r.doc_id, "lang": r.lang, "text": r.text})
               for r in b1.limit(3).collect()],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    del_dir = tmp_path / "dels"
    del_dir.mkdir()
    qe = kn_lm_index_erasure_stream(
        spark,
        JsonDirSource(str(del_dir), as_kafka_envelope=True),
        path,
        str(tmp_path / "chk_erase"),
        static_corpus=init,
    )
    try:
        write_batch_file(
            str(del_dir), "e0.json",
            [json.dumps({"doc_id": i}) for i in erase_ids[:3]],
        )
        qe.processAllAvailable()
        write_batch_file(
            str(del_dir), "e1.json",
            [json.dumps({"doc_id": i}) for i in erase_ids[3:]]
            + [json.dumps({"doc_id": erase_ids[0]})]   # redelivered
            + [json.dumps({"doc_id": 999_999})],       # unknown
        )
        qe.processAllAvailable()
    finally:
        qe.stop()

    live = (
        init.unionByName(b1.select("doc_id", "text"))
        .unionByName(b2.select("doc_id", "text"))
        .filter(~F.col("doc_id").isin(erase_ids))
    )
    got = {tuple(r) for r in kn_index_counts(spark, path).collect()}
    want = {tuple(r) for r in bigram_count_relation(live).collect()}
    assert got == want and got
    landed_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/corpus").collect()
    }
    assert not landed_ids & set(erase_ids)          # text destroyed
    assert landed_ids == {
        r.doc_id for r in b1.unionByName(b2).collect()
    } - set(erase_ids)
