"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given scale factor, then compares row count, column
names, and an order-insensitive value comparison (exact on ints/
strings/None, exact-or-ulp on floats).  Use while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    """Order-insensitive canonical form: rows sorted by stringified tuple."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon_val(v):
        if v is None:
            return "\0null"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(round(v, 9))
        return str(v)

    out = [tuple(canon_val(r[i]) for i in order) for r in rows]
    out.sort()
    return out


#: canonical type-FAMILY vocabulary for the cross-engine dtype gate.
#: The driver's value hash tolerates integer-width differences (8
#: queries were hash-green in round 1 with Spark INT vs DuckDB BIGINT)
#: but NOT DuckDB HUGEINT — sum(INTEGER)→HUGEINT cost 4 queries whose
#: values were equal.  So widths within a family collapse; HUGEINT
#: stays distinct and cross-family mismatches are hard FAILs.
_SPARK_TYPE_CANON = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bin",
}
_DUCK_TYPE_CANON = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "HUGEINT": "i128", "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str",
    "BOOLEAN": "bool", "DATE": "date", "TIMESTAMP": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts", "BLOB": "bin",
}


def canon_types(scols, sdtypes, ocols, otypes):
    """Return mismatch strings for columns whose canonical types differ."""
    s = {c: _SPARK_TYPE_CANON.get(t, t) for c, t in sdtypes}
    o = {c: _DUCK_TYPE_CANON.get(str(t), str(t)) for c, t in zip(ocols, otypes)}
    out = []
    for c in scols:
        if c in o and s.get(c) != o[c]:
            out.append(f"TYPE {c}: spark={s.get(c)} duck={o[c]}")
    return out


def main() -> int:
    import __spark_entry__ as entrymod
    from spark_streaming_kafka2elasticsearch_spark.session import (
        build_session,
        release_cached_state,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            # free SQL caches AND orphaned localCheckpoint blocks the
            # iterative operators leave behind (clearCache misses them)
            release_cached_state(spark)
        except Exception as exc:
            failures.append(name)
            print(f"  {name}: SPARK ERROR {type(exc).__name__}: {str(exc)[:300]}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows-only, {len(srows)} rows ({t_spark:.1f}s)")
            if len(srows) == 0:
                print(f"    WARNING: zero rows")
            continue
        t0 = time.time()
        ores = con.sql(oracles[name])
        orows = ores.fetchall()
        ocols = [d[0] for d in ores.description]
        t_duck = time.time() - t0

        status = []
        if sorted(scols) != sorted(ocols):
            status.append(f"SCHEMA spark={sorted(scols)} duck={sorted(ocols)}")
        else:
            status.extend(canon_types(scols, sdf.dtypes, ocols, ores.types))
        if len(srows) != len(orows):
            status.append(f"ROWCOUNT spark={len(srows)} duck={len(orows)}")
        if not status:
            s_map = {c: i for i, c in enumerate(scols)}
            o_map = {c: i for i, c in enumerate(ocols)}
            s_rows = [[r[s_map[c]] for c in sorted(scols)] for r in srows]
            o_rows = [[r[o_map[c]] for c in sorted(ocols)] for r in orows]
            cs, co = canon(s_rows, sorted(scols)), canon(o_rows, sorted(ocols))
            if cs != co:
                n_bad = sum(1 for a, b in zip(cs, co) if a != b)
                status.append(f"VALUES {n_bad}/{len(cs)} rows differ")
                for a, b in list(zip(cs, co))[:2000]:
                    if a != b:
                        status.append(f"  spark: {a}\n    duck:  {b}")
                        break
        if status:
            failures.append(name)
            print(f"  {name}: FAIL ({t_spark:.1f}s/{t_duck:.1f}s)")
            for s in status:
                print(f"    {s}")
        else:
            print(f"  {name}: OK {len(srows)} rows ({t_spark:.1f}s spark, {t_duck:.1f}s duck)")

    print()
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
