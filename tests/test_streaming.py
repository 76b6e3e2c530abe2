"""Streaming semantics: availableNow runs, watermarked windows, and state
carry-over of the custom sessionizer across micro-batches."""

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_title_mapper_spark.streaming import (
    run_to_memory,
    stream_events,
    tumbling_counts,
)
from duckdb_title_mapper_spark.streaming.stateful import sessionize

SF = "/root/testdata/sf0.001"
US = 1_000_000


def _tumbling_by_key(rows):
    return {(r["bucket_start"], r["event_type"]): r["n_events"] for r in rows}


def _batch_tumbling(spark):
    from duckdb_title_mapper_spark.workload import load_events

    return (
        load_events(spark, SF)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("window.start").alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )


def test_tumbling_stream_equals_batch(spark):
    got = run_to_memory(tumbling_counts(spark, SF))
    expect = _batch_tumbling(spark)
    assert _tumbling_by_key(got.collect()) == _tumbling_by_key(expect.collect())


def test_run_to_memory_drops_its_sink_view(spark):
    """The memory sink's temp view is gone once ``run_to_memory``
    returns (the session no longer pins the run's rows), and the
    returned DataFrame still delivers every row."""
    got = run_to_memory(tumbling_counts(spark, SF))
    sinks = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("__stream_sink_")]
    assert sinks == []
    rows = got.collect()
    assert rows
    assert _tumbling_by_key(rows) == _tumbling_by_key(
        _batch_tumbling(spark).collect())


def _write_events(path: str, rows, mtime: float):
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),  # raw nanos
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_sessionize_state_spans_batches(spark, tmp_path):
    """A session open at the end of batch 1 must merge with batch-2 events
    (same user, gap < 30 min) — proving the state store carries it."""
    base = 1_700_000_000 * US * 1000  # ns
    mins = 60 * US * 1000
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    now = time.time()
    # batch 1: user 1 events at t0, t0+5min; user 2 at t0
    _write_events(
        f"{d}/a.parquet",
        [(1, base, 1), (2, base + 5 * mins, 1), (3, base, 2)],
        now - 100,
    )
    # batch 2: user 1 at t0+10min (merges), then t0+60min (closes session 1);
    # user 2 at t0+45min (closes user 2's first session)
    _write_events(
        f"{d}/b.parquet",
        [(4, base + 10 * mins, 1), (5, base + 60 * mins, 1), (6, base + 45 * mins, 2)],
        now - 50,
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out = run_to_memory(sessionize(raw), mode="append")
    rows = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in out.collect()
    }
    t0_us = base // 1000
    m_us = mins // 1000
    # user 1: one closed session spanning both batches: [t0, t0+10min], 3 events
    assert rows[(1, t0_us)] == (t0_us + 10 * m_us, 3)
    # user 2: closed session [t0, t0], 1 event
    assert rows[(2, t0_us)] == (t0_us, 1)
    # only closed sessions are emitted (the two still-open ones are not)
    assert len(rows) == 2


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Stop a checkpointed stream, add data, restart with the same
    checkpoint: only the new file is processed (exactly-once source
    accounting across restarts)."""
    base = 1_700_000_000 * US * 1000
    d = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(d)
    now = time.time()
    _write_events(f"{d}/a.parquet", [(1, base, 1), (2, base, 2)], now - 100)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def run_once():
        raw = (
            spark.readStream.schema(
                "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
                "value DOUBLE, props STRING"
            ).parquet(d)
        )
        q = (
            raw.select("event_id")
            .writeStream.format("parquet")  # file sinks support recovery
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r["event_id"] for r in spark.read.parquet(out).collect()
        )

    assert run_once() == [1, 2]
    _write_events(f"{d}/b.parquet", [(3, base + US * 1000, 3)], now - 50)
    # restart resumes from the checkpoint: file a is NOT re-emitted, so the
    # sink holds each event exactly once
    assert run_once() == [1, 2, 3]


def test_stream_events_schema(spark):
    sdf = stream_events(spark, SF)
    assert sdf.isStreaming
    assert dict(sdf.dtypes)["ts"] == "timestamp"
