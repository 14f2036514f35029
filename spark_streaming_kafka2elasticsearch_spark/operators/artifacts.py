"""At-rest quantizer artifacts — the build-once-serve-many half of the
ANN index layout (VERDICT r10 item 1).

The IVF family's cell-partitioned parquet layout has always been at
rest, but the QUANTIZERS that make it servable (trained k-means
centroids, PQ codebooks, SQ8 min/max grids) lived only in a session
cache — a restarted serving session silently retrained.  This module
persists them as tiny single-file parquet artifacts **inside the index
directory** (``<index>/_quantizer/…``; the leading underscore makes
Spark's file index skip them, exactly like ``_SUCCESS``), so the index
directory is the complete, self-describing unit of deployment: copy it
to the serving cluster and every parameter needed to answer queries is
in it.

Artifacts are k×d-to-M·K·d sized — small BY CONTRACT (the same
collect-the-small-side rule the training loops rely on) — so they are
written and read driver-side with pyarrow: no Spark job, one file,
deterministic bytes.

Every artifact carries a **data fingerprint** of the corpus it was
trained on (file listing + sizes + mtimes of the source parquet;
:func:`~spark_streaming_kafka2elasticsearch_spark.sources.writer.data_fingerprint`).
Loading verifies the fingerprint when the caller supplies the expected
one: a stale artifact (corpus regenerated since training) is treated
as absent and the caller retrains — closing the silent-stale-codebook
hazard the session caches had (ADVICE r10).

The at-rest indexes' JSON sidecars (``_bm25_meta.json``,
``_graph_meta.json``, …) are read and stamped here too, through
:func:`read_meta` / :func:`write_meta` / :func:`index_meta`, so every
index family shares one atomic write and one staleness check.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_QUANTIZER_DIR = "_quantizer"

#: Artifact schema version — bump on any layout change so an old
#: serving binary never misreads a new artifact (or vice versa).
_VERSION = 1


def read_meta(path: str, name: str) -> dict | None:
    """The JSON sidecar ``name`` under ``path``, or None when absent."""
    try:
        with open(os.path.join(path, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def write_meta(path: str, name: str, meta: dict) -> None:
    """Stamp the sidecar ``name`` under ``path``: write a temp file
    beside it, then ``os.replace`` it in, so a crash mid-write leaves
    the previous sidecar whole.  The temp name keeps the sidecar's
    leading ``_``, so Spark's file index skips it when the sidecar
    sits in a table's root (``_bq_meta.json`` in an IVF layout)."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(path, name))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def index_meta(
    path: str, name: str, expected_fingerprint: str | None = None
) -> dict:
    """The sidecar of the at-rest index at ``path``.  Raises
    FileNotFoundError when there is none, and ValueError when
    ``expected_fingerprint`` is given and the index was stamped for
    another corpus — a stale index refuses to serve."""
    meta = read_meta(path, name)
    if meta is None:
        raise FileNotFoundError(f"no index sidecar {name} under {path}")
    if (
        expected_fingerprint is not None
        and meta.get("fingerprint") != expected_fingerprint
    ):
        raise ValueError(
            f"stale index {path}: expected fingerprint "
            f"{expected_fingerprint!r}, found {meta.get('fingerprint')!r}"
        )
    return meta


def first_seen(
    new_docs: DataFrame, id_col: str, *seen: DataFrame | None
) -> tuple[DataFrame, int]:
    """The first-seen admission gate of an index append: the rows of
    ``new_docs`` whose ``id_col`` is in none of the single-column
    ``seen`` id relations (``None`` entries are skipped), eagerly
    checkpointed, and their count.  A redelivered batch admits nothing,
    and an id listed as erased is never admitted again."""
    known = None
    for ids in seen:
        if ids is not None:
            known = ids if known is None else known.union(ids)
    delta = new_docs.join(
        known, new_docs[id_col] == known[known.columns[0]], "left_anti"
    ).localCheckpoint(eager=True)
    return delta, delta.count()


def _artifact_path(index_path: str, name: str) -> str:
    return os.path.join(index_path, _QUANTIZER_DIR, f"{name}.parquet")


def _write(index_path: str, name: str, table, fingerprint: str | None) -> str:
    import pyarrow.parquet as pq

    path = _artifact_path(index_path, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    meta = {
        b"spark_graft.version": str(_VERSION).encode(),
        b"spark_graft.fingerprint": (fingerprint or "").encode(),
    }
    table = table.replace_schema_metadata(meta)
    pq.write_table(table, path)
    return path


def _read(index_path: str, name: str, expected_fingerprint: str | None):
    """Returns the pyarrow table, or None when the artifact is absent,
    from a different schema version, or fingerprint-stale."""
    import pyarrow.parquet as pq

    path = _artifact_path(index_path, name)
    if not os.path.exists(path):
        return None
    table = pq.read_table(path)
    meta = table.schema.metadata or {}
    if meta.get(b"spark_graft.version") != str(_VERSION).encode():
        return None
    if expected_fingerprint is not None:
        stored = meta.get(b"spark_graft.fingerprint", b"").decode()
        if stored != expected_fingerprint:
            return None
    return table


# ---------------------------------------------------------------------------
# coarse centroids: list[(centroid_id, vector)]
# ---------------------------------------------------------------------------


def save_centroids(
    index_path: str,
    crows: list[tuple[int, list[float]]],
    fingerprint: str | None = None,
) -> str:
    import pyarrow as pa

    table = pa.table(
        {
            "centroid_id": pa.array(
                [int(cid) for cid, _ in crows], type=pa.int64()
            ),
            "centroid_vec": pa.array(
                [[float(x) for x in vec] for _, vec in crows],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    return _write(index_path, "centroids", table, fingerprint)


def load_centroids(
    index_path: str, expected_fingerprint: str | None = None
) -> list[tuple[int, list[float]]] | None:
    table = _read(index_path, "centroids", expected_fingerprint)
    if table is None:
        return None
    d = table.to_pydict()
    rows = sorted(zip(d["centroid_id"], d["centroid_vec"]))
    return [(int(cid), [float(x) for x in vec]) for cid, vec in rows]


# ---------------------------------------------------------------------------
# PQ codebooks: list[(m, code, codeword)]
# ---------------------------------------------------------------------------


def save_pq_codebooks(
    index_path: str,
    books: list[tuple[int, int, list[float]]],
    fingerprint: str | None = None,
) -> str:
    import pyarrow as pa

    table = pa.table(
        {
            "m": pa.array([int(m) for m, _, _ in books], type=pa.int64()),
            "code": pa.array([int(c) for _, c, _ in books], type=pa.int64()),
            "codeword": pa.array(
                [[float(x) for x in cw] for _, _, cw in books],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    return _write(index_path, "pq_codebooks", table, fingerprint)


def load_pq_codebooks(
    index_path: str, expected_fingerprint: str | None = None
) -> list[tuple[int, int, list[float]]] | None:
    table = _read(index_path, "pq_codebooks", expected_fingerprint)
    if table is None:
        return None
    d = table.to_pydict()
    rows = sorted(zip(d["m"], d["code"], d["codeword"]))
    return [(int(m), int(c), [float(x) for x in cw]) for m, c, cw in rows]


# ---------------------------------------------------------------------------
# SQ8 grid: list[(min, max)] indexed by dimension
# ---------------------------------------------------------------------------


def save_sq8_minmax(
    index_path: str,
    minmax: list[tuple[float, float]],
    fingerprint: str | None = None,
) -> str:
    import pyarrow as pa

    table = pa.table(
        {
            "i": pa.array(range(1, len(minmax) + 1), type=pa.int64()),
            "mn": pa.array([float(mn) for mn, _ in minmax], type=pa.float64()),
            "mx": pa.array([float(mx) for _, mx in minmax], type=pa.float64()),
        }
    )
    return _write(index_path, "sq8_minmax", table, fingerprint)


def load_sq8_minmax(
    index_path: str, expected_fingerprint: str | None = None
) -> list[tuple[float, float]] | None:
    table = _read(index_path, "sq8_minmax", expected_fingerprint)
    if table is None:
        return None
    d = table.to_pydict()
    rows = sorted(zip(d["i"], d["mn"], d["mx"]))
    return [(float(mn), float(mx)) for _, mn, mx in rows]
