#!/usr/bin/env python3
"""Local replication of the driver's t2 correctness gate, but stricter:
runs every workload query on Spark AND its DuckDB oracle, compares EXACT
values (sorted rows, columns sorted by name).  Any inequality here would be
a hash mismatch in CORRECTNESS_r{N}.json.

Usage: python3 scripts/check_oracle.py [sf_dir] [query ...]

The Spark JVM gets half the host's memory, at most 16g.  If the JVM dies
(say, the host runs out of memory), the run stops at that query, names
it, and exits 3 instead of failing every later query on a refused
connection.
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_type_to_spark(t: str) -> str:
    """Normalize a DuckDB declared type to Spark's simpleString form so
    declared output types can be compared, not just values.  The driver's
    hash gate is sensitive to output type metadata (VERDICT r1), so any
    mismatch here is a red flag even when values are identical."""
    t = str(t).strip()
    if t.endswith("[]"):
        return f"array<{duck_type_to_spark(t[:-2])}>"
    u = t.upper()
    base = {
        "VARCHAR": "string", "BIGINT": "bigint", "INTEGER": "int",
        "SMALLINT": "smallint", "TINYINT": "tinyint", "HUGEINT": "hugeint",
        "DOUBLE": "double", "FLOAT": "float", "BOOLEAN": "boolean",
        "DATE": "date", "TIMESTAMP": "timestamp_ntz",
        "TIMESTAMP_NS": "timestamp_ntz", "BLOB": "binary",
        "TIMESTAMP WITH TIME ZONE": "timestamp",
    }
    if u in base:
        return base[u]
    if u.startswith("DECIMAL"):
        return u.replace("DECIMAL", "decimal").replace(" ", "")
    return t.lower()


def norm_cell(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return v


def canon(rows, cols):
    """Columns sorted by name (driver behavior); rows kept in DELIVERED
    order.  The driver's value hash proved row-order sensitive in r2, so
    every workload query now pins a total ORDER BY on both sides and this
    gate verifies the delivered orders actually coincide."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], out


def jvm_memory() -> str:
    """The Spark JVM heap: half of the host's MemTotal, 1g to 16g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1, min(16, kb // (2 * 1024 * 1024)))}g"


def jvm_alive(spark) -> bool:
    """False once the py4j gateway to the Spark JVM no longer answers."""
    from py4j.protocol import Py4JError

    try:
        spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
        return True
    except (Py4JError, OSError):
        return False


def main():
    import duckdb
    from pyspark.sql import SparkSession

    from duckdb_title_mapper_spark.workload import TABLES, all_queries

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # an unknown name must fail loudly, not vacuously report ALL MATCH
    from duckdb_title_mapper_spark.workload import all_queries as _aq
    unknown = only - set(_aq())
    if unknown:
        print(f"UNKNOWN QUERIES: {sorted(unknown)}")
        sys.exit(2)

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]")
        .appName("check_oracle")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", jvm_memory())
        .config("spark.ui.enabled", "false")
        # no \r-separated progress bar in front of the PASS/FAIL lines
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.spark_fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            if not jvm_alive(spark):
                print(f"ABORT {name}: the Spark JVM is gone, so this and "
                      f"every later query are unchecked: {e}")
                print(f"{len(failures)} FAILURES before the abort: {failures}")
                sys.exit(3)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if q.oracle is None:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, no oracle)"
                  f" [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(q.oracle)
            d_cols = [c for c in rel.columns]
            d_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0]}")
            continue
        sc, s_canon = canon(s_rows, s_cols)
        dc, d_canon = canon(d_rows, d_cols)
        if sc != dc:
            failures.append(name)
            print(f"FAIL {name}: columns differ: spark={sc} duckdb={dc}")
            continue
        s_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        d_types = {
            c: duck_type_to_spark(t) for c, t in zip(rel.columns, rel.types)
        }
        type_mismatch = {
            c: (s_types[c], d_types[c]) for c in sc if s_types[c] != d_types[c]
        }
        if type_mismatch:
            failures.append(name)
            print(f"FAIL {name}: declared types differ (spark, duckdb):")
            for c, (a, b) in type_mismatch.items():
                print(f"      {c}: spark={a} duckdb={b}")
            continue
        if len(s_canon) != len(d_canon):
            failures.append(name)
            print(
                f"FAIL {name}: row count spark={len(s_canon)} duckdb={len(d_canon)}"
            )
            continue
        bad = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(s_canon, d_canon))
            if a != b
        ]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {len(bad)}/{len(s_canon)} rows differ; first:")
            i, a, b = bad[0]
            for c, x, y in zip(sc, a, b):
                marker = "  <-- DIFF" if x != y else ""
                print(f"      {c}: spark={x!r} duckdb={y!r}{marker}")
        else:
            print(
                f"PASS {name}: {len(s_canon)} rows exact-match"
                f" [{time.time()-t0:.1f}s]"
            )

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("ALL QUERIES MATCH ORACLE EXACTLY")


if __name__ == "__main__":
    main()
