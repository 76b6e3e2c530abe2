"""Table loaders for the driver testdata and generic schema'd file IO.

``events.ts`` is parquet INT64 TIMESTAMP(NANOS).  How Spark reads that
changed across 4.x: 4.0 rejects it unless
``spark.sql.legacy.parquet.nanosAsLong`` exposes raw nanos (rebuilt here
to a µs timestamp), while 4.1+ reads it natively as a µs-truncated
``timestamp_ntz`` and ignores the legacy conf.  ``load_events`` detects
which behavior the running Spark exhibits and normalizes both to the same
session-tz (UTC) microsecond TIMESTAMP, so every downstream query sees
one schema regardless of version.  Sub-microsecond precision is not
observable in any declared query (buckets ≥ 1 s, orderings tie-break on
ids), and DuckDB's TIMESTAMP_NS view of the same column agrees at µs.

Every testdata read goes through ``read_parquet``.  ``spark.read.parquet``
without a schema launches a Spark job that reads the file's footer on
every call; ``read_parquet`` infers a regular file's schema once per
process and hands it to ``spark.read.schema(...)`` afterwards, which
plans the same scan with no job.  Each call still builds a new
DataFrame (new attribute ids, so self-joins of two loads resolve).  The
memo key holds the file's identity — realpath, inode, ``st_mtime_ns``
and size, so a rewrite at the same path is re-inferred — and the
session settings that change what Spark infers from a footer
(``FOOTER_CONFS``).  Directories (Spark-written outputs) are read
without the memo: a directory's mtime does not change when a file
inside it is rewritten, so its identity cannot prove the schema still
holds.
"""

from __future__ import annotations

import os
from functools import lru_cache

EVENT_SCHEMA_RAW = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

# session settings that change the schema Spark infers from a footer
FOOTER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


@lru_cache(maxsize=256)
def _footer_slot(key: tuple) -> list:
    """The schema inferred for ``key``, filled by its first read."""
    return []


def parquet_schema(spark, path: str):
    """The schema ``spark.read.parquet(path)`` infers, memoized per
    regular file (see the module docstring for the key)."""
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    slot = _footer_slot((
        os.path.realpath(path), st.st_ino, st.st_mtime_ns, st.st_size,
        tuple(spark.conf.get(k, None) for k in FOOTER_CONFS),
    ))
    if not slot:
        slot.append(spark.read.parquet(path).schema)
    return slot[0]


def read_parquet(spark, path: str):
    """``spark.read.parquet(path)`` that skips the footer job when the
    file's schema is already known."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark, sf_dir: str, name: str):
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _read_nanos_as_long(spark) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed entirely in some future version


def events_ts_read_type(spark, sf_dir: str) -> str:
    """How THIS Spark materializes the nanos column: 'bigint' (4.0 +
    nanosAsLong) or 'timestamp_ntz' (4.1+ native µs-truncated read)."""
    _read_nanos_as_long(spark)
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    return schema["ts"].dataType.simpleString()


def normalize_events_ts(df):
    """Rebuild ``ts`` as a session-tz microsecond TIMESTAMP from whichever
    raw form the reader produced (floor-truncation to µs in both paths)."""
    from pyspark.sql import functions as F

    t = dict(df.dtypes)["ts"]
    if t == "bigint":  # raw nanos
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if t == "timestamp_ntz":  # native read, already µs; reinterpret in UTC
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df  # already a plain timestamp


def load_events(spark, sf_dir: str):
    # date_trunc / window() truncate in the SESSION timezone; DuckDB's
    # tz-free TIMESTAMP truncates wall time.  They agree only in UTC (or
    # any whole-hour offset) — pin it so parity can't depend on the host.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _read_nanos_as_long(spark)
    return normalize_events_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))


def register_views(spark, sf_dir: str, *names: str):
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# generic schema'd file IO
# ---------------------------------------------------------------------------

def read_csv(spark, path: str, schema: str, header: bool = True, **options):
    """CSV with a declared schema (no inference scan)."""
    return (
        spark.read.options(header=str(header).lower(), **options)
        .schema(schema)
        .csv(path)
    )


def read_json(spark, path: str, schema: str, **options):
    """JSON-lines with a declared schema (no inference scan)."""
    return spark.read.options(**options).schema(schema).json(path)


def write_parquet(df, path: str, partition_by: tuple[str, ...] = (),
                  mode: str = "overwrite"):
    """Partitioned parquet sink — ``partition_by`` low-cardinality keys
    give partition-pruned scans downstream."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def write_bucketed(df, table: str, path: str, key: str, buckets: int = 8,
                   mode: str = "overwrite"):
    """Bucketed external table: co-locates rows by ``key`` hash at WRITE
    time, so later equi-joins/aggregations on ``key`` between tables with
    matching bucketing skip the exchange entirely — the 100 TB answer to
    repeated joins on the same key (pay the shuffle once, at ingest)."""
    (
        df.write.mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )
    return table


def write_csv(df, path: str, header: bool = True, mode: str = "overwrite"):
    df.write.mode(mode).option("header", str(header).lower()).csv(path)
    return path


def write_json(df, path: str, mode: str = "overwrite"):
    df.write.mode(mode).json(path)
    return path
