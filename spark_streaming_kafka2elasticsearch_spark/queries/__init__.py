"""Driver-facing query registry.

Every operator family from SURVEY.md §2 (plus the large-scale
data-pipeline extensions) is exposed as a named query: a callable
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, a
DuckDB-equivalent oracle string.  The driver's correctness gate runs
both and hash-compares values, so each pair is written to be
**bit-deterministic across engines**:

* money aggregates go through exact ``DECIMAL(18,2)`` sums, cast to
  double at the end (double-sum order-dependence would flake);
* timestamps are emitted as formatted strings (timezone-unambiguous);
* scalar double arithmetic uses the identical expression shape on both
  sides (IEEE 754 ops are deterministic given identical operand order);
* sampling is hash-based, never seed/partition-dependent.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
    read_meta,
    write_meta,
)
from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
    data_fingerprint,
    read_parquet,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_PROBE_ONLY: dict[str, QueryFn] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and (optionally) its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def register_probe_only(name: str) -> Callable[[QueryFn], QueryFn]:
    """Register a query for the SCALE PROBE harness only (VERDICT r12
    item 2): documented reference points whose growth exponent is
    super-linear BY DESIGN (e.g. the exact √n-cell kNN-graph build —
    the n^1.5 regime NN-Descent replaces) stay measurable in
    tools/scale_probe.py without riding every bench pass or the
    driver's correctness rotation as a production entry."""

    def deco(fn: QueryFn) -> QueryFn:
        _PROBE_ONLY[name] = fn
        return fn

    return deco


def probe_only_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return dict(_PROBE_ONLY)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md)."""
    # Event-time semantics must not depend on the caller's JVM default
    # zone; UTC is this engine's canonical clock (session.py).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark refuses
    # by default; read nanos as long and convert exactly (integer div —
    # a double division would lose precision above 2^53 ns).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The driver's parquet has also shipped timestamp[us] WITHOUT a
    # timezone annotation (isAdjustedToUTC=false), which Spark 4 infers
    # as TIMESTAMP_NTZ — a type rejected by unix_micros & friends.
    # Disabling NTZ inference makes the SCAN ITSELF produce canonical
    # TIMESTAMP (session tz is pinned UTC above, so the reinterpretation
    # is exact: same wall-clock instant).  Crucially this keeps filter
    # pushdown alive — a post-read to_utc_timestamp() projection would
    # hide o_orderdate / l_shipdate / ts predicates from the parquet
    # reader (PushedFilters would go empty; test_tpch.py pins this).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    if name == "events" and dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def index_dir(query_name: str, sf_dir: str) -> str:
    """Scratch directory for a query's at-rest index or fixture.

    Checkout-relative (or ``$SPARK_GRAFT_TMP_DIR``), never an absolute
    hard-coded path; each registered query gets its OWN subdirectory so
    one query's rebuild can never be read through another query's lazy
    plan, and the sf basename keeps scale factors apart."""
    root = os.environ.get("SPARK_GRAFT_TMP_DIR") or os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "tmp_ivf",
    )
    return os.path.join(
        root, query_name, os.path.basename(sf_dir.rstrip("/")) or "sf"
    )


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Data fingerprint (operators/artifacts) of one input table."""
    return data_fingerprint(os.path.join(sf_dir, f"{name}.parquet"))


_FIXTURE_MARKER = "_fixture.json"


def build_once(
    query_name: str, sf_dir: str, key: str, build: Callable[[str], object]
) -> str:
    """The :func:`index_dir` of ``query_name``, holding an untimed
    at-rest fixture built for ``key`` (a corpus fingerprint).  When the
    directory's marker holds ``key`` it is returned as is; otherwise
    the marker is dropped, ``build(path)`` runs, and the marker is
    written last — a crashed build never passes for a finished one."""
    path = index_dir(query_name, sf_dir)
    marker = read_meta(path, _FIXTURE_MARKER)
    if marker is not None:
        if marker.get("key") == key:
            return path
        os.remove(os.path.join(path, _FIXTURE_MARKER))
    build(path)
    write_meta(path, _FIXTURE_MARKER, {"key": key})
    return path


#: Driver-cap rotation (VERDICT r2 item 5): the correctness harness
#: checks only the first ~50 registry entries per round, so entries the
#: driver has NEVER checked (new this round + the round-2 overflow)
#: register first, then entries last checked in round 1, then the
#: rest.  Dicts preserve insertion order; rotate this list each round
#: so every query gets a driver row within two rounds.
_PRIORITY: list[str] = [
    # round-14 rotation (VERDICT r13 item 1): head = the 12 queries
    # NEW in r14 (never driver-checked), then ALL 35 still-registered
    # queries whose newest driver row is r9-vintage (the oldest tier —
    # retired completely this round, as demanded; the 36th r9 name,
    # ann_cosine_topk_ivf, is no longer a registered query, and
    # semdedup_keep_decisions left the registry via the r14 probe-only
    # demotion), then the 3 alphabetically-first r10-vintage rows to
    # start on the next debt tier.  12 + 35 + 3 = 50.  A test asserts
    # this list is duplicate-free.
    # -- new in r14 (12) --
    "knn_graph_descent_delete",
    "ann_graph_beam_ooc_topk",
    "ann_graph_beam_heldout_topk",
    "minhash_lsh_index_append_pairs",
    "minhash_lsh_index_delete_pairs",
    "minhash_lsh_probe_matches",
    "bm25_index_serve_topk",
    "bm25_index_append_serve_topk",
    "bm25_index_delete_serve_topk",
    "kn_lm_index_gate_served",
    "kn_lm_index_append_gate",
    "kn_lm_index_delete_gate",
    # -- r9-vintage (35) --
    "ann_cosine_topk_ivf_fixed",
    "ann_ivf_persisted_topk",
    "ann_ivf_trained_topk",
    "ann_pq_adc_topk",
    "array_functions_showcase",
    "ccnet_perplexity_buckets",
    "events_props_map_keys",
    "ivf_kmeans_codebook",
    "language_id_heuristic",
    "latest_event_per_user",
    "lineitem_rollup",
    "multimodal_image_features",
    "near_dup_clusters",
    "ngram_jaccard_pairs",
    "order_status_distinct_customers",
    "order_status_distinct_customers_approx",
    "orders_dead_letter_split",
    "pii_scrub_stats",
    "pricing_summary",
    "quantity_percentiles",
    "quantity_percentiles_approx",
    "revenue_by_nation",
    "salted_brand_revenue",
    "semantic_decontamination",
    "simhash_fingerprints",
    "simhash_near_dup_pairs",
    "small_qty_order_revenue",
    "sql_region_revenue",
    "srp_buckets",
    "stratified_sample_by_lang",
    "text_quality_scores",
    "token_stats_by_lang",
    "top_orders_per_customer",
    "url_dedup_canonical",
    "window_functions_showcase",
    # -- oldest r10-vintage (3) --
    "ann_ivf_append_serve",
    "ann_ivf_sq8_topk",
    "ann_ivfadc_residual_topk",
]


def _rotated(d: dict) -> dict:
    head = {k: d[k] for k in _PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return _rotated(_QUERIES)


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return _rotated(_ORACLES)


_loaded = False


def _ensure_loaded() -> None:
    global _loaded
    if not _loaded:
        # Import for side effect: modules register their queries.
        from spark_streaming_kafka2elasticsearch_spark.queries import (  # noqa: F401
            advanced,
            analytics,
            behavior,
            datapipe,
            extended,
            parity,
            tpch,
        )

        _loaded = True
