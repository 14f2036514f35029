"""Batch table writer — the storage-layout half of the scale story.

At 100 TB, how a table is laid down decides every later query's cost:

* **partition columns** → partition pruning (a date/tenant filter
  skips whole directories);
* **bucketing** → co-located joins: two tables bucketed by the same
  key join with ZERO shuffle (the single biggest join optimization
  Spark offers for repeated big–big joins);
* **sized files** → ``maxRecordsPerFile`` bounds file size so a scan
  parallelizes without small-file storms.

``write_table`` is deliberately thin — it composes public
DataFrameWriter options; the value is encoding the layout decisions
(and their rationale) as one reviewed code path instead of scattered
``.write`` calls.

The read half is :func:`read_parquet`: a table re-read unchanged in a
session reuses the schema Spark inferred the first time, so only the
first read pays the schema-inference job.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Partitioned (hive-layout) write.  A :func:`swap_table` a crash
    interrupted at ``path`` is settled first, so an append can never
    land beside a table that is still renamed aside."""
    _settle_swap(path)
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Bucketed managed table (bucketing requires saveAsTable).

    Join two tables bucketed by the same key/count and Catalyst elides
    both exchanges — the plan shows SortMergeJoin with no Exchange
    under it.  That property is asserted in tests.
    """
    writer = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    max_records_per_file: int | None = None,
) -> None:
    """Incremental partition overwrite — replace ONLY the partitions
    present in ``df``, leave every other partition untouched.

    This is the daily-load primitive at 100 TB: re-landing one day of
    a years-deep date-partitioned table must rewrite one directory,
    not the table.  Implemented with Spark's dynamic partition
    overwrite (``partitionOverwriteMode=dynamic``), scoped to this
    write via the writer option so the session default stays static
    (static mode protects full-table overwrites from surprise
    partial-delete semantics)."""
    if not partition_by:
        raise ValueError("overwrite_partitions requires partition columns")
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def compact_partitions(
    spark,
    path: str,
    partition_col: str,
    max_files_per_partition: int = 4,
    target_files_per_partition: int = 1,
) -> list:
    """Compact ONLY the oversized partitions of a hive-partitioned
    table — the maintenance primitive append-heavy layouts need
    (VERDICT r10 item 6): the incremental IVF index
    (operators/similarity.ivf_persisted_append, the streaming
    maintenance job) adds files per cell per delta, so at daily
    increments the per-cell file count grows without bound and scan
    planning (footer reads, task scheduling) eats the pruning win.

    Scans the partition directories, finds those whose data-file count
    exceeds ``max_files_per_partition``, reads JUST those partitions'
    rows (directory-pruned scan), breaks lineage with an eager local
    checkpoint (a dynamic overwrite of a path still being read would
    otherwise race its own input), and rewrites them via dynamic
    partition overwrite — untouched partitions keep their files
    byte-identical, readers of other partitions are never disturbed,
    and by determinism of content the serve-before == serve-after
    (the append-equals-rebuild oracle shape; pinned in tests).
    Underscore-prefixed entries (``_quantizer``, ``_SUCCESS``) are
    preserved — dynamic overwrite only replaces partition dirs.

    Returns the list of partition values that were compacted."""
    prefix = f"{partition_col}="
    oversized = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if not entry.startswith(prefix) or not os.path.isdir(full):
            continue
        n_files = sum(
            1
            for f in os.listdir(full)
            if not f.startswith((".", "_")) and f.endswith(".parquet")
        )
        if n_files > max_files_per_partition:
            oversized.append(entry[len(prefix):])
    if not oversized:
        return []
    df = spark.read.parquet(path)
    # partition values parse back typed (int cells); compare as string
    # so the filter matches the directory names just listed
    rows = df.filter(
        df[partition_col].cast("string").isin(oversized)
    ).localCheckpoint(eager=True)
    compacted = rows.repartition(
        max(target_files_per_partition * len(oversized), 1),
        rows[partition_col],
    )
    overwrite_partitions(compacted, path, [partition_col])
    rows.unpersist()
    return oversized


def _aside(path: str) -> str:
    return f"{path.rstrip('/')}__swap_old"


def _settle_swap(path: str) -> None:
    """Finish or undo a :func:`swap_table` a crash interrupted.  With
    the old table still aside and no table in place the crash came
    between the two renames: the old table goes back.  With both in
    place the new table had landed: the old one is deleted."""
    aside = _aside(path)
    if not os.path.exists(aside):
        return
    if os.path.exists(path):
        shutil.rmtree(aside)
    else:
        os.rename(aside, path)


def data_fingerprint(source_path: str) -> str:
    """Cheap, deterministic fingerprint of a data file or directory:
    sha256 over the sorted (relative name, size, mtime_ns) listing.
    No data bytes are read — at 100 TB a content hash would cost a
    full scan; the listing catches regeneration, append, and
    compaction, which is the invalidation this guards."""
    entries = []
    if os.path.isdir(source_path):
        for root, _dirs, files in os.walk(source_path):
            for fn in sorted(files):
                if fn.startswith((".", "_")):
                    continue
                p = os.path.join(root, fn)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, source_path), st.st_size, st.st_mtime_ns)
                )
    else:
        st = os.stat(source_path)
        entries.append((os.path.basename(source_path), st.st_size, st.st_mtime_ns))
    entries.sort()
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()


#: Session confs that change the schema Spark infers for a parquet
#: table (type mapping, timestamp flavour, partition-value typing,
#: name resolution); a memoized schema is reused only while they hold.
_SCHEMA_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.session.timeZone",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: path -> ((listing fingerprint, schema confs), inferred schema)
_SCHEMAS: dict = {}


def read_parquet(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that pays the schema-inference job
    once per table version: the schema Spark inferred is kept per path
    and handed back to the reader while the table's listing
    (:func:`data_fingerprint`) and the schema-inference confs are the
    ones it was inferred under.  Any change to either — a rewrite, an
    append, a swap, a flipped conf — infers again and replaces the
    path's entry.  A path the local file system cannot list (a remote
    URI, a missing table) is read as is, with Spark's own errors."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = (
        data_fingerprint(path),
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def read_table(spark, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when there is none —
    after settling any swap a crash interrupted, so a replayed epoch
    always reads the last committed table."""
    _settle_swap(path)
    if not os.path.exists(path):
        return None
    return read_parquet(spark, path)


def swap_table(
    df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """Replace the table at ``path`` with ``df``: write to a staging
    directory, rename the old table aside under one fixed name, rename
    the staged table in, then delete the old one.  ``df`` may read the
    table it replaces — the staged write finishes before either rename.

    No instant leaves the data lost: a crash before the first rename
    keeps the old table, one between the renames leaves it aside, and
    one after the second rename leaves the new table in place.
    :func:`read_table` settles the last two cases before it answers.
    The staging directory of a crashed write is left behind (its name
    is unique per call)."""
    _settle_swap(path)
    tmp = f"{path.rstrip('/')}__tmp_{uuid.uuid4().hex}"
    write_table(df, tmp, partition_by=partition_by)
    aside = _aside(path)
    if os.path.exists(path):
        os.rename(path, aside)
    os.rename(tmp, path)
    if os.path.exists(aside):
        shutil.rmtree(aside)


def erase_partitions(
    table: DataFrame,
    path: str,
    partition_by: Sequence[str],
    touched: Iterable,
    deleted: DataFrame,
    id_col: str,
) -> None:
    """Delete the ``deleted`` ids from a hive-partitioned table,
    rewriting only the partitions under the ``touched`` values of the
    first partition column — the erasure primitive of every at-rest
    layout with deletes (IVF cells, LSH parts, landed stream corpora).

    ``table`` is the table read from ``path``; the caller finds
    ``touched`` its own way (a semi-join against the ids, or a hash of
    them).  The surviving rows of those partitions are materialized
    (the rewrite would otherwise read the files it replaces) and
    written back by dynamic partition overwrite.  Dynamic overwrite
    writes nothing for a partition that lost its last row, so every
    partition directory the rewrite emptied is removed explicitly, and
    so is a parent directory left with no partition under it.
    Partitions outside ``touched`` keep their files byte-identical.
    Directory names are ``col=value`` with ``str(value)``, as Spark
    writes integer partition values."""
    touched = sorted(touched)
    if not touched:
        return
    top = partition_by[0]
    remaining = (
        table.filter(F.col(top).isin(touched))
        .join(deleted, id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    if not remaining.isEmpty():
        overwrite_partitions(remaining, path, partition_by)
    kept = {
        os.path.join(*[f"{c}={r[c]}" for c in partition_by])
        for r in remaining.select(*partition_by).distinct().collect()
    }
    for value in touched:
        _drop_emptied(path, f"{top}={value}", partition_by[1:], kept)


def _drop_emptied(
    root: str, rel: str, rest: Sequence[str], kept: set[str]
) -> None:
    """Remove the partition directory ``root/rel`` if no kept
    partition lies at or under it, recursing level by level."""
    full = os.path.join(root, rel)
    if not os.path.isdir(full):
        return
    if rest:
        prefix = f"{rest[0]}="
        for entry in os.listdir(full):
            if entry.startswith(prefix):
                _drop_emptied(root, os.path.join(rel, entry), rest[1:], kept)
        if any(e.startswith(prefix) for e in os.listdir(full)):
            return
    elif rel in kept:
        return
    shutil.rmtree(full, ignore_errors=True)


def compact_table(
    spark,
    path: str,
    target_files: int,
    partition_by: Sequence[str] = (),
) -> None:
    """Small-file compaction: rewrite a parquet table into
    ``target_files`` files (per partition when partitioned).

    Streaming sinks and incremental loads accrete small files until
    scan planning (footer reads, task scheduling) dominates query
    time; periodic compaction is standard hygiene.  Uses a fresh read
    + repartition so the rewrite is one shuffle-free-if-coalescable
    pass, landed through :func:`swap_table` (a direct overwrite of the
    path being read would truncate the input mid-scan)."""
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    df = read_table(spark, path)
    if df is None:
        raise FileNotFoundError(f"no table at {path}")
    if partition_by:
        out = df.repartition(target_files, *[df[c] for c in partition_by])
    else:
        out = df.repartition(target_files)
    swap_table(out, path, partition_by)
