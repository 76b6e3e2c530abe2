"""Streaming sinks beyond the memory sink.

The file sink is the scale path for stream archival: each micro-batch
appends parquet files and records them in the sink's commit log, which
gives end-to-end exactly-once for file outputs (readers that understand
the log — any Spark batch read of the directory — see only committed
files).  The reference has no streaming surface at all (its whole API is
one scalar function, src/lib.rs:72-86); this supplies the sink half of
the mandated streaming capabilities.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from ..sources.tables import load_events, load_table, register_views
from .windows import stream_events


def file_sink_roundtrip(spark, sf_dir: str):
    """Write the events stream to a parquet FILE SINK (availableNow), then
    read the directory back as a batch table and aggregate per event_type.

    The write is append-only pass-through (file sinks support only append
    mode — aggregations belong downstream or in the memory/foreachBatch
    sinks), so the sink shows the archival shape: firehose in, committed
    parquet out, batch analytics over the landed files.  At 100 TB the
    sink partitions by micro-batch naturally; a production deployment
    would add .partitionBy(date) so downstream reads prune."""
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="dtm_stream_sink_")
    data_dir = os.path.join(out, "data")
    chk_dir = os.path.join(out, "chk")
    q = (
        stream_events(spark, sf_dir)
        .writeStream.format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", chk_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(data_dir)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("total_value"),
    )


def foreach_batch_upsert(spark, sf_dir: str):
    """foreachBatch MERGE sink: per micro-batch, upsert the stream's
    UPDATED per-event_type aggregates into a keyed parquet store
    (versioned directories behind an atomically-flipped pointer file),
    then read the store back.  This is the exactly-once keyed-sink
    pattern for stores without native streaming support (JDBC, KV,
    vanilla parquet): update-mode emits only the keys each batch
    changed, and the merge is idempotent per (key, batch) — a replayed
    batch rebuilds the identical store version and re-flips the pointer,
    so retries cannot double-count or lose untouched keys.

    Crash-safety: each batch writes a COMPLETE merged store to a fresh
    `store.v{batch_id}` directory, then publishes it with a single
    `os.replace` of the CURRENT pointer file (atomic on POSIX).  A crash
    before the flip leaves CURRENT on the previous full version; a crash
    after the flip is absorbed because checkpoint replay of the same
    batch_id rewrites the same version with the same rows.  Superseded
    versions are deleted after the flip, so exactly one full store plus
    at most one in-flight version exist at any time.  At 100 TB the
    store is key-cardinality-sized (here |event_type|), never
    stream-sized, and a real deployment swaps the pointer dance for
    MERGE INTO on a transactional table — same foreachBatch shape.

    Aggregates are integer-exact s6 BIGINTs (the graded idiom), so the
    store equals the batch GROUP BY oracle exactly."""
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="dtm_stream_upsert_")
    chk = os.path.join(out, "chk")
    ptr = os.path.join(out, "CURRENT")

    def current_store():
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            name = f.read().strip()
        path = os.path.join(out, name)
        return path if name and os.path.exists(path) else None

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        new = batch_df
        cur = current_store()
        if cur is not None:
            old = sess.read.parquet(cur)
            new = old.join(new, "event_type", "left_anti").unionByName(new)
        vname = f"store.v{batch_id}"
        vdir = os.path.join(out, vname)
        # write the FULL merged store to a fresh versioned dir (the lazy
        # read of the old store executes here, before publication), then
        # publish with one atomic pointer replace
        new.coalesce(1).write.mode("overwrite").parquet(vdir)
        tmp_ptr = os.path.join(out, f"CURRENT.tmp{batch_id}")
        with open(tmp_ptr, "w") as f:
            f.write(vname)
        os.replace(tmp_ptr, ptr)
        # GC superseded versions only AFTER the flip (crash here is
        # harmless: CURRENT already points at the new full store)
        for d in os.listdir(out):
            if d.startswith("store.v") and d != vname:
                shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    agg = (
        stream_events(spark, sf_dir)
        .where(F.col("user_id") >= 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                (F.col("value").cast("decimal(18,6)") * 1000000)
                .cast("bigint")
            ).cast("bigint").alias("total_value_s6"),
        )
    )
    q = (
        agg.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = current_store()
    if final is None:
        raise RuntimeError("foreachBatch upsert produced no store version")
    return spark.read.parquet(final)


def _stage_events_multi(spark, sf_dir: str, parts: int = 4) -> str:
    """Stage the events table as ``parts`` parquet files (projected to
    the sketch's columns) so maxFilesPerTrigger=1 yields a genuine
    multi-batch replay — each micro-batch carries a real slice and the
    incremental merge actually merges.  Split by ``pmod(hash(user_id),
    parts)`` — deterministic, and TOTAL over the domain: Spark's
    ``hash`` maps NULL to its (non-null) seed and pmod never goes
    negative, so NULL and negative user_ids land in a bucket instead
    of being silently dropped (the r5 ``user_id % parts == p`` split
    lost both classes while the batch oracles aggregate ALL rows — an
    unasserted data assumption, r6 ADVICE).  A staged-row-count
    assertion makes the row-preservation contract loud either way."""
    import hashlib

    from pyspark.sql import functions as F

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    # v2: hash-pmod split (bump invalidates dirs staged under the old
    # modulo split, which dropped NULL/negative user_ids)
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_multi{parts}v2"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    ev = load_events(spark, sf_dir).select("event_id", "user_id",
                                           "event_type")
    os.makedirs(d, exist_ok=True)
    bucket = F.pmod(F.hash(F.col("user_id")), F.lit(parts))
    staged_rows = 0
    for p in range(parts):
        sliced = ev.where(bucket == p)
        staged_rows += sliced.count()
        (sliced.coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}") if f.endswith(".parquet")
        )
        os.replace(f"{d}/_build_{p}/{part_file}", f"{d}/slice_{p}.parquet")
    total = ev.count()
    if staged_rows != total:
        raise AssertionError(
            f"multi-file staging lost rows: staged {staged_rows} of "
            f"{total} — the split predicate is not total over user_id"
        )
    with open(done, "w") as f:
        f.write("ok")
    return d


def countmin_stream_sketch(spark, sf_dir: str, d: int = 4, w: int = 64):
    """STREAMING count-min sketch maintenance: each micro-batch folds
    its rows into d x w partial cells (the mergeability contract of
    x_countmin_sketch executed incrementally), and foreachBatch ADDS
    them into the persisted sketch store cell-wise — the fixed-size
    keyed sink whose merge is addition, published through the same
    atomic version-pointer as foreach_batch_upsert.  After the
    availableNow replay over a 4-slice staging of events, the store
    equals the batch sketch exactly (the oracle).

    This is the streaming half of the sketch family: a 100 TB firehose
    maintains heavy-hitter state in d*w integers per shard, shards add,
    and no raw-key state store exists at all (contrast
    stream_content_dedup's unbounded signature store)."""
    from pyspark.sql import functions as F

    src_dir = _stage_events_multi(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dtm_stream_cm_")
    chk = os.path.join(out, "chk")
    ptr = os.path.join(out, "CURRENT")

    def current_store():
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            name = f.read().strip()
        path = os.path.join(out, name)
        return path if name and os.path.exists(path) else None

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__cm_batch")
        part = sess.sql(f"""
            SELECT r,
                   CAST(conv(substr(md5(concat(CAST(r AS STRING), ':',
                        CAST(user_id AS STRING))), 1, 8), 16, 10)
                        AS BIGINT) % {w} AS col,
                   CAST(count(*) AS BIGINT) AS cell
            FROM (SELECT user_id,
                         explode(sequence(0, {d - 1})) AS r
                  FROM __cm_batch) e
            GROUP BY 1, 2""")
        cur = current_store()
        if cur is not None:
            old = sess.read.parquet(cur)
            part = (
                old.unionByName(part)
                .groupBy("r", "col")
                .agg(F.sum("cell").cast("bigint").alias("cell"))
            )
        vname = f"store.v{batch_id}"
        vdir = os.path.join(out, vname)
        part.coalesce(1).write.mode("overwrite").parquet(vdir)
        tmp_ptr = os.path.join(out, f"CURRENT.tmp{batch_id}")
        with open(tmp_ptr, "w") as f:
            f.write(vname)
        os.replace(tmp_ptr, ptr)
        for dd in os.listdir(out):
            if dd.startswith("store.v") and dd != vname:
                shutil.rmtree(os.path.join(out, dd), ignore_errors=True)

    raw = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = current_store()
    if final is None:
        raise RuntimeError("streaming count-min produced no store version")
    return spark.read.parquet(final).select(
        F.col("r").cast("bigint").alias("r"), "col", "cell"
    )


def bloom_stream_words(spark, sf_dir: str, m_words: int = 512, k: int = 3):
    """STREAMING Bloom-filter maintenance — the OR-merge member that
    completes the sketch-monoid trio (count-min ADDs, HLL MAXes, Bloom
    ORs): each micro-batch folds its user keys into k=3 md5-slice bit
    positions and foreachBatch ORs the 63-bit words into the persisted
    filter via the same atomic version-pointer store.  OR is
    idempotent, so at-least-once redelivery is absorbed for free, and
    words merge across shards/batches in any order — the membership
    filter a 100 TB ingest keeps per shard to pre-prune downstream
    semi-joins (x_bloom_semijoin_prune is the batch consumer of this
    state shape).  After the 4-slice availableNow replay the store
    equals the batch-computed filter exactly (the oracle)."""
    from pyspark.sql import functions as F

    m = m_words * 63  # 63 usable bits per BIGINT word (bit 63 = sign)
    src_dir = _stage_events_multi(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dtm_stream_bloom_")
    chk = os.path.join(out, "chk")
    ptr = os.path.join(out, "CURRENT")

    def current_store():
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            name = f.read().strip()
        path = os.path.join(out, name)
        return path if name and os.path.exists(path) else None

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__bloom_batch")
        slices = "\n      UNION ALL ".join(
            "SELECT CAST(conv(substr(md5(CAST(user_id AS STRING)), "
            f"{1 + 8 * i}, 8), 16, 10) AS BIGINT) % {m} AS pos "
            "FROM __bloom_batch"
            for i in range(k)
        )
        part = sess.sql(f"""
            SELECT pos div 63 AS w,
                   CAST(bit_or(shiftleft(CAST(1 AS BIGINT),
                        CAST(pos % 63 AS INT))) AS BIGINT) AS mask
            FROM ({slices}) p
            GROUP BY pos div 63""")
        cur = current_store()
        if cur is not None:
            old = sess.read.parquet(cur)
            part = (
                old.unionByName(part)
                .groupBy("w")
                .agg(F.bit_or("mask").cast("bigint").alias("mask"))
            )
        vname = f"store.v{batch_id}"
        vdir = os.path.join(out, vname)
        part.coalesce(1).write.mode("overwrite").parquet(vdir)
        tmp_ptr = os.path.join(out, f"CURRENT.tmp{batch_id}")
        with open(tmp_ptr, "w") as f:
            f.write(vname)
        os.replace(tmp_ptr, ptr)
        for dd in os.listdir(out):
            if dd.startswith("store.v") and dd != vname:
                shutil.rmtree(os.path.join(out, dd), ignore_errors=True)

    raw = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = current_store()
    if final is None:
        raise RuntimeError("streaming Bloom produced no store version")
    return spark.read.parquet(final).select(
        F.col("w").cast("bigint").alias("w"), "mask"
    )


def kmv_stream_minset(spark, sf_dir: str, k: int = 64):
    """STREAMING KMV maintenance — the MIN-merge member completing the
    sketch-monoid QUARTET (count-min ADDs, HLL MAXes, Bloom ORs, KMV
    MINs): each micro-batch computes its bottom-k distinct user hashes
    and foreachBatch merges by taking the bottom-k OF THE UNION with
    the persisted set — an idempotent, commutative, associative merge,
    so at-least-once redelivery and shard order are absorbed exactly
    like the other three.  After the 4-slice availableNow replay the
    store equals the batch bottom-k (the oracle), which carries the
    (k-1)*2^32/h_k cardinality estimate of x_kmv_sketch."""
    from pyspark.sql import functions as F

    src_dir = _stage_events_multi(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dtm_stream_kmv_")
    chk = os.path.join(out, "chk")
    ptr = os.path.join(out, "CURRENT")

    def current_store():
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            name = f.read().strip()
        path = os.path.join(out, name)
        return path if name and os.path.exists(path) else None

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__kmv_batch")
        part = sess.sql(f"""
            SELECT hv FROM (
              SELECT DISTINCT CAST(conv(substr(md5(CAST(user_id
                     AS STRING)), 1, 8), 16, 10) AS BIGINT) AS hv
              FROM __kmv_batch) h
            ORDER BY hv LIMIT {k}""")
        cur = current_store()
        if cur is not None:
            old = sess.read.parquet(cur)
            part = (
                old.unionByName(part).distinct()
                .orderBy("hv").limit(k)
            )
        vname = f"store.v{batch_id}"
        vdir = os.path.join(out, vname)
        part.coalesce(1).write.mode("overwrite").parquet(vdir)
        tmp_ptr = os.path.join(out, f"CURRENT.tmp{batch_id}")
        with open(tmp_ptr, "w") as f:
            f.write(vname)
        os.replace(tmp_ptr, ptr)
        for dd in os.listdir(out):
            if dd.startswith("store.v") and dd != vname:
                shutil.rmtree(os.path.join(out, dd), ignore_errors=True)

    raw = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = current_store()
    if final is None:
        raise RuntimeError("streaming KMV produced no store version")
    from pyspark.sql.window import Window

    return (
        spark.read.parquet(final)
        .select(
            F.row_number().over(Window.orderBy("hv"))
            .cast("bigint").alias("rank"),
            F.col("hv").cast("bigint").alias("hv"),
        )
    )


def hll_stream_registers(spark, sf_dir: str):
    """STREAMING HyperLogLog maintenance — the MAX-merge companion to
    countmin_stream_sketch's ADD-merge: each micro-batch computes its
    partial registers (bucket -> max leading-zero rank over the batch's
    user hashes, the x_hll_sketch pipeline) and foreachBatch merges
    them into the store by per-bucket MAX.  Duplicate arrivals are
    absorbed for free (max is idempotent), which is why HLL state needs
    no dedup at all — the property that makes it the default
    distinct-count maintenance on an at-least-once firehose.  After the
    4-slice availableNow replay the store equals the batch registers
    exactly (the oracle)."""
    from pyspark.sql import functions as F

    src_dir = _stage_events_multi(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="dtm_stream_hll_")
    chk = os.path.join(out, "chk")
    ptr = os.path.join(out, "CURRENT")

    def current_store():
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            name = f.read().strip()
        path = os.path.join(out, name)
        return path if name and os.path.exists(path) else None

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__hll_batch")
        part = sess.sql("""
            SELECT hv div 67108864 AS j,
                   CAST(max(CASE WHEN hv % 67108864 = 0 THEN 27
                            ELSE 27 - length(bin(hv % 67108864)) END)
                        AS BIGINT) AS r
            FROM (SELECT CAST(conv(substr(md5(CAST(user_id AS STRING)),
                               1, 8), 16, 10) AS BIGINT) AS hv
                  FROM __hll_batch) h
            GROUP BY hv div 67108864""")
        cur = current_store()
        if cur is not None:
            old = sess.read.parquet(cur)
            part = (
                old.unionByName(part)
                .groupBy("j")
                .agg(F.max("r").cast("bigint").alias("r"))
            )
        vname = f"store.v{batch_id}"
        vdir = os.path.join(out, vname)
        part.coalesce(1).write.mode("overwrite").parquet(vdir)
        tmp_ptr = os.path.join(out, f"CURRENT.tmp{batch_id}")
        with open(tmp_ptr, "w") as f:
            f.write(vname)
        os.replace(tmp_ptr, ptr)
        for dd in os.listdir(out):
            if dd.startswith("store.v") and dd != vname:
                shutil.rmtree(os.path.join(out, dd), ignore_errors=True)

    raw = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = current_store()
    if final is None:
        raise RuntimeError("streaming HLL produced no store version")
    return spark.read.parquet(final).select(
        F.col("j").cast("bigint").alias("j"), "r"
    )


def _stage_events_by_time(spark, sf_dir: str, parts: int = 4) -> str:
    """Stage the events table as ``parts`` parquet slices that are
    CONTIGUOUS in (event-time, event_id) order, with strictly
    increasing mtimes so the file stream replays them as a
    time-ordered firehose — the arrival model the Lindley queue
    recursion requires (unlike the modulo splits, whose arrival order
    is id-striped).  Carries precomputed md5 service times so the
    stateful operator only folds."""
    import hashlib

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_evtime{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    ev = load_events(spark, sf_dir).select(
        "event_type", "event_id",
        F.unix_micros("ts").alias("us"),
        (F.lit(1000) + F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16, 10).cast("bigint") % 9000).alias("svc_us"),
    )
    total = ev.count()
    rn = F.row_number().over(Window.orderBy("us", "event_id"))
    # (rn-1)*parts must be 64-bit (row_number is IntegerType — 32-bit
    # multiply overflows past ~536M events) and the bucketizer must be
    # exact integer division, not a float round-trip (ADVICE r11).
    sliced_all = ev.withColumn(
        "rn0", rn.cast("bigint") - F.lit(1)
    ).withColumn(
        "slice", F.expr(f"rn0 * {int(parts)} div {int(total)}")
    ).drop("rn0")
    os.makedirs(d, exist_ok=True)
    staged_rows = 0
    for p in range(parts):
        sl = (sliced_all.where(F.col("slice") == p)
              .drop("slice"))
        staged_rows += sl.count()
        (sl.coalesce(1).write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}", f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    if staged_rows != total:
        raise AssertionError(
            f"event staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def queue_wait_stream(spark, sf_dir: str, parts: int = 4):
    """STREAMING single-server FIFO queue telemetry: the event
    firehose replays in exact (event-time, event_id) order (staged
    time-contiguous slices) and a custom STATEFUL operator
    (``applyInPandasWithState`` keyed by event_type) folds the
    Lindley recursion W_n = max(0, W_{n-1} + S_{n-1} - A_n)
    incrementally — state carries (prev arrival, prev service,
    current wait) plus the running aggregates, each micro-batch
    emits the updated per-type totals in update mode, and the last
    update per type is the answer.  The DuckDB oracle is the batch
    closed form (x_inference_queue_wait's SQL), so the streaming fold
    is certified against the prefix-extremum identity.  At 100 TB:
    per-type state is a constant-width tuple and batches fold in
    arrival order — the monitoring loop a serving fleet runs live."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd

    src_dir = _stage_events_by_time(spark, sf_dir, parts)

    state_schema = ("prev_us BIGINT, prev_svc BIGINT, w BIGINT, "
                    "n BIGINT, delayed BIGINT, total_wait BIGINT, "
                    "max_wait BIGINT, busy BIGINT, min_us BIGINT, "
                    "max_done BIGINT")
    out_schema = ("event_type STRING, n_requests BIGINT, "
                  "n_delayed BIGINT, total_wait_us BIGINT, "
                  "max_wait_us BIGINT, busy_us BIGINT, "
                  "min_us BIGINT, max_done_us BIGINT")

    def fold(key, pdf_iter, state):
        (event_type,) = key
        if state.exists:
            (prev_us, prev_svc, w, n, delayed, total_wait, max_wait,
             busy, min_us, max_done) = state.get
        else:
            prev_us = None
            prev_svc = w = n = delayed = total_wait = max_wait = 0
            busy = 0
            min_us = max_done = None
        rows = []
        for pdf in pdf_iter:
            rows.extend(zip((int(v) for v in pdf["us"]),
                            (int(v) for v in pdf["event_id"]),
                            (int(v) for v in pdf["svc_us"])))
        for us, _eid, svc in sorted(rows):
            if prev_us is not None:
                w = max(0, w + prev_svc - (us - prev_us))
            n += 1
            delayed += 1 if w > 0 else 0
            total_wait += w
            max_wait = max(max_wait, w)
            busy += svc
            min_us = us if min_us is None else min(min_us, us)
            done = us + w + svc
            max_done = done if max_done is None else max(max_done, done)
            prev_us, prev_svc = us, svc
        state.update((prev_us, prev_svc, w, n, delayed, total_wait,
                      max_wait, busy, min_us, max_done))
        yield pd.DataFrame([{
            "event_type": event_type, "n_requests": n,
            "n_delayed": delayed, "total_wait_us": total_wait,
            "max_wait_us": max_wait, "busy_us": busy,
            "min_us": min_us, "max_done_us": max_done,
        }])

    raw = (
        spark.readStream.schema(
            "event_type STRING, event_id BIGINT, us BIGINT, "
            "svc_us BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    updates = raw.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from .windows import run_to_memory

    mem = run_to_memory(updates, mode="update")
    # update mode appends one row per (type, batch); the final state is
    # the row with the largest n_requests per type
    from pyspark.sql.window import Window

    w = F.row_number().over(
        Window.partitionBy("event_type")
        .orderBy(F.col("n_requests").desc()))
    return (
        mem.withColumn("rk", w).where(F.col("rk") == 1)
        .select(
            "event_type", "n_requests", "n_delayed", "total_wait_us",
            "max_wait_us", "busy_us",
            # integer div (operands nonnegative) — never float `/` +
            # cast, whose rounding diverges from the oracle's floor
            F.expr("busy_us * 1000 div (max_done_us - min_us)")
            .cast("bigint").alias("utilization_permille"),
        )
    )


def vocab_growth_stream(spark, sf_dir: str, parts: int = 4):
    """STREAMING vocabulary growth on arrival (the Heaps audit's
    incremental twin, and the streaming store family's SET-UNION
    member beside the ADD/MAX/OR/MIN sketch monoids and the band
    store): each micro-batch of the document firehose tokenizes
    map-side, probes the persisted TERM STORE for already-seen terms,
    appends only the genuinely new ones (``terms.b{id}``, idempotent
    per-batch dirs), and records a per-batch growth row — tokens
    arrived, distinct terms in batch, NEW terms.  The current batch's
    own dirs are excluded from the store view on retry (the
    ``_image_dedup_merge_batch`` at-least-once rule).  Arrival order
    is (doc_id % parts, doc_id), oracle-reproducible, so the DuckDB
    oracle computes each term's arrival-key minimum closed-form.  At
    100 TB the term store is a bucketed string column probed by an
    equi-join — the live vocab monitor a tokenizer-budget owner
    watches during ingestion."""
    import glob as _glob

    from pyspark.sql import functions as F

    src_dir = _stage_docs_with_text_by_mod(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_vocab_")
    chk = os.path.join(out, "chk")

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        toks = batch_df.select(
            F.explode(F.expr(
                "regexp_extract_all(lower(text), '\\\\w+', 0)"))
            .alias("tok"),
        )
        n_tokens = toks.count()
        batch_terms = toks.distinct()
        batch_terms.createOrReplaceTempView("__vocab_batch")
        store_dirs = [
            p for p in sorted(_glob.glob(os.path.join(out, "terms.b*")))
            if not p.endswith(f"terms.b{batch_id}")
        ]
        if store_dirs:
            sess.read.parquet(*store_dirs).createOrReplaceTempView(
                "__vocab_store")
            new_terms = sess.sql(
                "SELECT b.tok FROM __vocab_batch b LEFT ANTI JOIN"
                " __vocab_store s ON s.tok = b.tok")
        else:
            new_terms = sess.table("__vocab_batch")
        n_batch_terms = batch_terms.count()
        n_new = new_terms.count()
        (new_terms.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"terms.b{batch_id}")))
        # SQL VALUES, never createDataFrame(list) — the Python-RDD
        # source re-pays a non-Arrow worker chain per action
        row = sess.sql(
            f"SELECT CAST({int(batch_id)} AS BIGINT) AS batch_id,"
            f" CAST({n_tokens} AS BIGINT) AS n_tokens,"
            f" CAST({n_batch_terms} AS BIGINT) AS n_batch_terms,"
            f" CAST({n_new} AS BIGINT) AS n_new_terms")
        (row.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"growth.b{batch_id}")))

    raw = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    growth = sorted(_glob.glob(os.path.join(out, "growth.b*")))
    if not growth:
        raise RuntimeError("streaming vocab growth produced no rows")
    from pyspark.sql.window import Window

    g = spark.read.parquet(*growth)
    w = (Window.orderBy("batch_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return g.select(
        "batch_id", "n_tokens", "n_batch_terms", "n_new_terms",
        F.sum("n_new_terms").over(w).cast("bigint").alias("cum_vocab"),
    )


def _stage_docs_with_text_by_mod(spark, sf_dir: str,
                                 parts: int = 4) -> str:
    """The ``_stage_docs_by_mod`` layout (doc_id % parts slices,
    strictly increasing mtimes) carrying the TEXT column — staged
    separately because the band-store stream's slices are
    deliberately text-free."""
    import hashlib

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_doctext{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    os.makedirs(d, exist_ok=True)
    staged_rows = 0
    for p in range(parts):
        sliced = docs.where(F.col("doc_id") % parts == p)
        staged_rows += sliced.count()
        (sliced.coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}", f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    total = docs.count()
    if staged_rows != total:
        raise AssertionError(
            f"doc staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def _stage_docs_by_mod(spark, sf_dir: str, parts: int = 4) -> str:
    """Stage the documents table as ``parts`` parquet slices split by
    ``doc_id % parts`` — doc_ids are nonnegative and non-null (unlike
    the r5 user_id split this pattern replaced for events), and the
    modulo split is PORTABLE: the DuckDB oracle can reproduce the
    arrival order (slice index, then doc_id) exactly, which a
    murmur3-hash split could not.  A staged-row-count assertion keeps
    the totality contract loud anyway."""
    import hashlib

    from pyspark.sql import functions as F

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_docmod{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    os.makedirs(d, exist_ok=True)
    staged_rows = 0
    for p in range(parts):
        sliced = docs.where(F.col("doc_id") % parts == p)
        staged_rows += sliced.count()
        (sliced.coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}", f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    # the file stream picks oldest-modified first; stamp strictly
    # increasing mtimes so micro-batch order IS the slice order the
    # arrival-order oracle assumes (arrival semantics, unlike the
    # ADD/OR-monoid sketch streams, are order-dependent)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    total = docs.count()
    if staged_rows != total:
        raise AssertionError(
            f"doc staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def _image_dedup_dirs(out: str, name: str):
    import glob as _glob

    return sorted(_glob.glob(os.path.join(out, f"{name}.b*")))


def _image_dedup_merge_batch(out: str, batch_df, batch_id) -> None:
    """One micro-batch of image_dedup_stream: dHash-band the batch,
    flag each doc against the persisted band store (strictly EARLIER
    batches) plus earlier-doc_id intra-batch matches, then append
    ``flags.b{id}`` / ``bands.b{id}``.

    Module-level (not a closure) so the at-least-once retry contract
    is unit-testable: re-invoking with the same batch_id must rewrite
    byte-identical flags (tests/test_round11_ops.py)."""
    from ..operators.imagehash import dhash_bands_for

    sess = batch_df.sparkSession
    bands = dhash_bands_for(batch_df, carry=("source",))
    bands.createOrReplaceTempView("__img_batch")
    # Exclude THIS batch's own bands dir from the store view: on an
    # at-least-once retry (bands.b{id} written, checkpoint commit
    # lost) the prior attempt's dir would otherwise be probed as
    # "earlier arrivals" and every doc would self-match at Hamming 0,
    # flipping the rewritten flags.b{id} to all-dup.  Excluding the
    # dir (not just doc_id != self) is required because same-batch
    # pairs must be judged by the intra-batch b.doc_id < a.doc_id arm,
    # never by the store arm.
    store_dirs = [
        p for p in _image_dedup_dirs(out, "bands")
        if not p.endswith(f"bands.b{batch_id}")
    ]
    if store_dirs:
        sess.read.parquet(*store_dirs).createOrReplaceTempView(
            "__img_store")
        store_probe = """
          UNION ALL
          SELECT a.doc_id AS da, b.doc_id AS db
          FROM ub a JOIN us b ON b.bi = a.bi AND b.val = a.val"""
        y_side = ("SELECT doc_id, b0, b1, b2, b3 FROM __img_batch "
                  "UNION ALL "
                  "SELECT doc_id, b0, b1, b2, b3 FROM __img_store")
        us_cte = (", us AS (" + " UNION ALL ".join(
            f"SELECT doc_id, {i} AS bi, b{i} AS val"
            " FROM __img_store" for i in range(4)) + ")")
    else:
        store_probe = ""
        y_side = "SELECT doc_id, b0, b1, b2, b3 FROM __img_batch"
        us_cte = ""
    unp_b = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS bi, b{i} AS val FROM __img_batch"
        for i in range(4))
    ham = " + ".join(
        f"CAST(bit_count(x.b{i} ^ y.b{i}) AS BIGINT)"
        for i in range(4))
    flags = sess.sql(f"""
        WITH ub AS ({unp_b}){us_cte},
        cand AS (
          SELECT a.doc_id AS da, b.doc_id AS db
          FROM ub a JOIN ub b ON b.bi = a.bi AND b.val = a.val
                             AND b.doc_id < a.doc_id{store_probe}),
        dup AS (
          SELECT DISTINCT c.da AS doc_id
          FROM cand c
          JOIN __img_batch x ON x.doc_id = c.da
          JOIN ({y_side}) y ON y.doc_id = c.db
          WHERE {ham} <= 3)
        SELECT b.doc_id, b.source,
               CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END
                 AS is_dup
        FROM __img_batch b LEFT JOIN dup d ON d.doc_id = b.doc_id""")
    (flags.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(out, f"flags.b{batch_id}")))
    (sess.table("__img_batch")
     .select("doc_id", "b0", "b1", "b2", "b3")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(out, f"bands.b{batch_id}")))


def image_dedup_stream(spark, sf_dir: str, parts: int = 4):
    """STREAMING perceptual image dedup-on-arrival: each micro-batch
    of the document firehose is dHash-banded (operators/imagehash —
    real PNG encode/decode/pool per doc), flagged against the
    PERSISTED band store (everything that arrived in earlier batches)
    plus earlier-doc_id intra-batch matches.  Dup-on-arrival = some
    earlier image within Hamming distance 3 — found via the 4x16-bit
    band equi-join whose completeness at radius 3 is the pigeonhole
    theorem (x_image_dhash_near_dup), so the streaming flags are
    EXACT, not probabilistic.

    Both stores are APPEND-ONLY per-batch parquet dirs keyed by
    batch_id (``bands.b{id}``/``flags.b{id}``, mode=overwrite): a
    foreachBatch retry overwrites its own dir, so the sink is
    idempotent under at-least-once redelivery WITHOUT the O(n)
    read-union-rewrite the version-pointer sketch stores pay — the
    right trade for unbounded append-only state (the sketches are
    fixed-size, so rewriting them is O(1); a band store is O(n)).
    Idempotency requires the store probe to EXCLUDE the current
    batch's own bands dir (a half-committed prior attempt would
    otherwise self-match every doc at Hamming 0) — see
    ``_image_dedup_merge_batch``, retry-tested in
    tests/test_round11_ops.py.

    Arrival order is (slice index = doc_id % parts, doc_id) — fully
    deterministic (staged slice files carry strictly increasing
    mtimes) and oracle-reproducible.  At 100 TB: the band store is 4
    BIGINTs per image; each batch's probe is a bucketed equi-join
    against storage, shard-prunable by band value — exactly how a
    production near-dup gate fronts an ingestion firehose."""
    from pyspark.sql import functions as F

    src_dir = _stage_docs_by_mod(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_imgdedup_")
    chk = os.path.join(out, "chk")

    def merge(batch_df, batch_id):
        _image_dedup_merge_batch(out, batch_df, batch_id)

    raw = (
        spark.readStream.schema("doc_id BIGINT, source STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    flag_dirs = _image_dedup_dirs(out, "flags")
    if not flag_dirs:
        raise RuntimeError("streaming image dedup produced no flags")
    return (
        spark.read.parquet(*flag_dirs)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.sum("is_dup").cast("bigint").alias("n_dup_on_arrival"),
            (F.count("*") - F.sum("is_dup")).cast("bigint")
            .alias("n_unique"),
        )
    )


def _stage_embeddings_by_mod(spark, sf_dir: str, parts: int = 4) -> str:
    """The mod-split staging layout (`_stage_docs_by_mod`) for the
    embeddings table: ``vec_id % parts`` slices with strictly
    increasing mtimes so the availableNow file stream replays slice i
    as micro-batch i."""
    import hashlib

    from pyspark.sql import functions as F

    src = os.path.realpath(f"{sf_dir}/embeddings.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_embmod{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    os.makedirs(d, exist_ok=True)
    staged_rows = 0
    for p in range(parts):
        sliced = emb.where(F.col("vec_id") % parts == p)
        staged_rows += sliced.count()
        (sliced.coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}", f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    total = emb.count()
    if staged_rows != total:
        raise AssertionError(
            f"embedding staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def ann_assign_stream(spark, sf_dir: str, parts: int = 4):
    """STREAMING ANN index maintenance (the store family's INDEX
    shape beside the ADD/MAX/OR/MIN/set-union merges): the coarse
    IVF quantizer's centroids are built ONCE from the static corpus
    and PARQUET-BACKED (`operators/similarity.ivf_cents_sql` — the
    md5-ordered deterministic seeds of `ivf_topk`); each embedding
    micro-batch is assigned to its nearest centroid by one broadcast
    n x n_cells cosine pass and APPENDED to a per-batch cell store
    (``cells.b{id}`` dirs — overwrite mode, so an at-least-once
    retry rewrites byte-identical rows; no prior-state probe needed
    because assignment is state-free).  The final store is the full
    posting-list index; the DuckDB oracle recomputes every
    assignment closed-form with batch id = arrival slice.  At 100 TB
    this is exactly how an IVF index ingests a firehose: constant
    centroid broadcast, map-side argmax, append-only postings."""
    import glob as _glob

    from ..operators.similarity import ivf_assign_sql, ivf_cents_sql

    src_dir = _stage_embeddings_by_mod(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_annassign_")
    chk = os.path.join(out, "chk")
    cents_dir = os.path.join(out, "cents")

    # parquet-backed centroids, built once before the stream starts
    register_views(spark, sf_dir, "embeddings")
    (spark.sql(ivf_cents_sql(True, "embeddings"))
     .coalesce(1).write.mode("overwrite").parquet(cents_dir))

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__ann_batch")
        sess.read.parquet(cents_dir).createOrReplaceTempView(
            "__ann_cents")
        assigned = sess.sql(
            ivf_assign_sql(True, "__ann_batch", "__ann_cents"))
        (assigned.selectExpr(
            "vec_id", f"CAST({int(batch_id)} AS BIGINT) AS batch_id",
            "cell")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"cells.b{batch_id}")))

    raw = (
        spark.readStream.schema(
            "vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cells = sorted(_glob.glob(os.path.join(out, "cells.b*")))
    if not cells:
        raise RuntimeError("streaming ANN assignment produced no cells")
    return spark.read.parquet(*cells).select("vec_id", "batch_id", "cell")


def topk_leaderboard_stream(spark, sf_dir: str, parts: int = 4,
                            k: int = 10):
    """STREAMING exact top-k term leaderboard: each document
    micro-batch tokenizes map-side and appends its PER-BATCH term
    counts (``counts.b{id}`` dirs — idempotent overwrite; the
    at-least-once probe excludes nothing because counts are
    batch-local, never cumulative), then the CURRENT leaderboard is
    computed from the union of all landed batch dirs <= this batch
    and recorded as ``board.b{id}``.  Unlike the count-min twin this
    is the EXACT top-k (full term store, the monitoring dashboard a
    curation owner actually reads); the oracle recomputes each
    batch's leaderboard closed-form as a prefix aggregation over the
    (doc_id % parts, doc_id) arrival order.  Ties (count DESC, term
    ASC).  At 100 TB the per-batch count relations are bucketed
    parquet and the prefix merge is one ADD-shuffle per trigger."""
    import glob as _glob

    from pyspark.sql import functions as F

    src_dir = _stage_docs_with_text_by_mod(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_topk_")
    chk = os.path.join(out, "chk")

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        toks = batch_df.select(
            F.explode(F.expr(
                "regexp_extract_all(lower(text), '\\\\w+', 0)"))
            .alias("tok"))
        (toks.groupBy("tok").count()
         .select("tok", F.col("count").cast("bigint").alias("cnt"))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"counts.b{batch_id}")))
        upto = [
            p for p in sorted(_glob.glob(os.path.join(out, "counts.b*")))
            if int(p.rsplit(".b", 1)[1]) <= batch_id
        ]
        sess.read.parquet(*upto).createOrReplaceTempView("__topk_all")
        board = sess.sql(
            f"SELECT CAST({int(batch_id)} AS BIGINT) AS batch_id,"
            f" tok, CAST(sum(cnt) AS BIGINT) AS cnt,"
            f" CAST(row_number() OVER (ORDER BY sum(cnt) DESC, tok)"
            f"   AS BIGINT) AS rnk"
            f" FROM __topk_all GROUP BY tok"
            f" ORDER BY rnk LIMIT {int(k)}")
        (board.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"board.b{batch_id}")))

    raw = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    boards = sorted(_glob.glob(os.path.join(out, "board.b*")))
    if not boards:
        raise RuntimeError("streaming top-k produced no leaderboards")
    return spark.read.parquet(*boards).select(
        "batch_id", "rnk", "tok", "cnt")


def priority_sample_stream(spark, sf_dir: str, parts: int = 4,
                           k: int = 20):
    """STREAMING priority sampling (r14 — the incremental twin of
    ``workload.x_priority_sample``): each ORDER micro-batch computes
    its batch-local top-(k+1) PRIORITY store plus a 1-row batch-total
    store (both idempotent overwrites — priorities are per-item
    constants and totals are batch-local, so at-least-once redelivery
    rewrites identical files), and the final read merges every landed
    store and takes the global top-(k+1).  This is exact BECAUSE
    priority sampling is a mergeable bottom-k sketch: the top-k of a
    union equals the top-k of the per-part top-k's, and item
    priorities never change after arrival (items are orders with
    fixed weights — a per-CUSTOMER stream would mutate weights and
    break mergeability; that form needs the batch pass).  The oracle
    recomputes the whole sample closed-form — the result is
    arrival-order INDEPENDENT by the sketch property, which is the
    point.  Estimator columns match the batch twin: tau = (k+1)-th
    priority, est = greatest(w, tau), true total from the summed
    batch totals."""
    import glob as _glob

    src_dir = _stage_orders_by_hash(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_prio_")
    chk = os.path.join(out, "chk")
    scale = 4294967296

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__prio_batch")
        (sess.sql(f"""
            SELECT okey, w_cents, prio FROM (
              SELECT okey, w_cents,
                     (w_cents * {scale}) div
                     (CAST(conv(substr(md5(CAST(okey AS STRING)),
                                       1, 8), 16, 10) AS BIGINT) + 1)
                       AS prio
              FROM __prio_batch)
            ORDER BY prio DESC, okey LIMIT {k + 1}""")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"top.b{batch_id}")))
        (sess.sql("SELECT CAST(count(*) AS BIGINT) AS n,"
                  " CAST(sum(w_cents) AS BIGINT) AS tot"
                  " FROM __prio_batch")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"tot.b{batch_id}")))

    raw = (
        spark.readStream.schema("okey BIGINT, w_cents BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tops = sorted(_glob.glob(os.path.join(out, "top.b*")))
    tots = sorted(_glob.glob(os.path.join(out, "tot.b*")))
    if not tops:
        raise RuntimeError("streaming priority sample landed nothing")
    spark.read.parquet(*tops).createOrReplaceTempView("__prio_tops")
    spark.read.parquet(*tots).createOrReplaceTempView("__prio_tots")
    return spark.sql(f"""WITH r AS (
      SELECT okey, w_cents, prio,
             CAST(row_number() OVER (ORDER BY prio DESC, okey)
                  AS BIGINT) AS rk
      FROM (SELECT okey, w_cents, prio FROM __prio_tops
            ORDER BY prio DESC, okey LIMIT {k + 1}) m),
    tau AS (
      SELECT CAST(coalesce(max(CASE WHEN rk = {k + 1} THEN prio END),
                           0) AS BIGINT) AS tau FROM r),
    tot AS (SELECT CAST(sum(tot) AS BIGINT) AS true_total
            FROM __prio_tots)
    SELECT r.okey, r.w_cents, CAST(r.prio AS BIGINT) AS prio, r.rk,
           CAST(greatest(r.w_cents, t.tau) AS BIGINT) AS est_w_cents,
           t.tau, tot.true_total
    FROM r CROSS JOIN tau t CROSS JOIN tot
    WHERE r.rk <= {k}""")


def _stage_orders_by_hash(spark, sf_dir: str, parts: int = 4) -> str:
    """Stage orders as (okey, w_cents) hash slices for the priority-
    sample stream (the _stage_docs_src_by_mod idiom: md5-derived
    slice so arrival order is reproducible and source-independent)."""
    import hashlib
    import time as _time

    src = os.path.realpath(f"{sf_dir}/orders.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_ordprio{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS okey",
        "CAST(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(18,2))"
        " * 100 AS BIGINT) AS w_cents")
    os.makedirs(d, exist_ok=True)
    hslice = ("conv(substr(md5(CAST(okey AS STRING)), 1, 8), 16, 10)"
              f" % {parts}")
    for p in range(parts):
        sliced = orders.where(F.expr(hslice) == p)
        (sliced.coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}",
                   f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
        # mtime-pinned arrival order (the staging idiom): slice p
        # lands strictly after slice p-1
        os.utime(f"{d}/slice_{p}.parquet", (1_600_000_000 + p,
                                            1_600_000_000 + p))
    with open(done, "w") as f:
        f.write("ok")
    _time.sleep(0.05)
    return d


def _stage_docs_src_by_mod(spark, sf_dir: str, parts: int = 4) -> str:
    """``_stage_docs_with_text_by_mod`` carrying the SOURCE column —
    the table-log stream commits per-source file stats."""
    import hashlib

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_docsrch{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    os.makedirs(d, exist_ok=True)
    # md5-derived slice (the portable hash idiom): the testdata's
    # doc_id stride makes doc_id % parts CONSTANT per source, which
    # would put each source in exactly one commit — the hash slice
    # spreads every source across batches and the oracle reproduces
    # it closed-form
    hslice = ("conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
              f" % {parts}")
    staged_rows = 0
    for p in range(parts):
        sliced = docs.where(F.expr(hslice) == p)
        staged_rows += sliced.count()
        (sliced.coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}", f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    total = docs.count()
    if staged_rows != total:
        raise AssertionError(
            f"doc staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def table_log_stream(spark, sf_dir: str, parts: int = 4):
    """STREAMING transaction-log maintenance (the WAL shape beside
    the store family's data merges): each document micro-batch
    computes its per-source file statistics DISTRIBUTED (one small
    aggregate — count, byte mass, min/max doc_id per source), and the
    driver appends ONE commit to a ``_delta_log`` (exactly the Delta
    writer model: stats are cluster work, the log append is a tiny
    driver action).  Commit 0 carries the protocol+metaData header;
    every commit's bytes are a pure function of its batch content, so
    an at-least-once retry rewrites the identical file (idempotent).
    The final read REPLAYS the log with full framing validation
    (sources/deltalog.replay_log — contiguous versions, header order,
    no dup adds) and emits one row per logged file; the DuckDB
    oracle recomputes every stat closed-form with batch id = arrival
    slice (doc_id % parts under the mtime-pinned availableNow
    replay).  Streaming ingest is add-only by design — compaction
    (remove + merged add) is the batch maintenance job
    src_table_log_replay certifies."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ..operators.standardize import _arrow_df
    from ..sources.deltalog import (
        ADD_TMPL, META_TMPL, PROTO_LINE, replay_log)

    src_dir = _stage_docs_src_by_mod(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_tablelog_")
    chk = os.path.join(out, "chk")
    logdir = os.path.join(out, "_delta_log")
    os.makedirs(logdir, exist_ok=True)

    def commit(batch_df, batch_id):
        stats = (batch_df.selectExpr(
            "source", "doc_id",
            "octet_length(text) + length(CAST(doc_id AS STRING)) + 22"
            " AS rsz")
            .groupBy("source")
            .agg(F.count("*").alias("cnt"), F.sum("rsz").alias("sz"),
                 F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
            .orderBy("source")
            .collect())  # bounded: one row per source (20), never data
        lines = []
        if int(batch_id) == 0:
            import hashlib as _hl

            lines.append(PROTO_LINE)
            lines.append(META_TMPL % (
                _hl.md5(b"stream").hexdigest(), "stream"))
        for r in stats:
            lines.append(ADD_TMPL % (
                f"part-b{int(batch_id)}-{r['source']}.json",
                int(r["sz"]), int(r["cnt"]), int(r["mn"]), int(r["mx"])))
        blob = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(logdir, f"{int(batch_id):020d}.json"),
                  "wb") as f:
            f.write(blob)

    raw = (
        spark.readStream.schema(
            "doc_id BIGINT, source STRING, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(commit)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = {
        int(name.split(".")[0]): open(os.path.join(logdir, name),
                                      "rb").read()
        for name in os.listdir(logdir)
        if name.endswith(".json")
    }
    rep = replay_log(log)
    rows = []
    for path, add in rep["live"].items():
        stem = path[len("part-b"):-len(".json")]
        b, source = stem.split("-", 1)
        rows.append({
            "source": source,
            "batch_id": int(b),
            "n_records": int(add["numRecords"]),
            "file_bytes": int(add["size"]),
            "min_doc": int(add["minDocId"]),
            "max_doc": int(add["maxDocId"]),
        })
    pdf = pd.DataFrame(rows).sort_values(["source", "batch_id"])
    cols = ["source", "batch_id", "n_records", "file_bytes",
            "min_doc", "max_doc"]
    sdf = _arrow_df(spark, pdf[cols])
    for c in cols[1:]:
        sdf = sdf.withColumn(c, F.col(c).cast("bigint"))
    return sdf


def _stage_baskets_by_mod(spark, sf_dir: str, parts: int = 4) -> str:
    """Stage the distinct (order, brand) basket relation as ``parts``
    parquet slices split by ``l_orderkey % parts`` — the split is on
    the BASKET key, so every basket lands whole in exactly one
    micro-batch and per-batch pair counts are SUM-mergeable across
    batches (disjoint baskets: the pair-count monoid).  Portable
    modulo split + pinned mtimes, the _stage_docs_by_mod discipline."""
    import hashlib

    src = os.path.realpath(f"{sf_dir}/lineitem.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_basket{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    li.createOrReplaceTempView("__stage_li")
    pt.createOrReplaceTempView("__stage_pt")
    baskets = spark.sql(
        "SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item "
        "FROM __stage_li l JOIN __stage_pt p "
        "ON l.l_partkey = p.p_partkey")
    os.makedirs(d, exist_ok=True)
    from pyspark.sql import functions as F

    staged_rows = 0
    for p in range(parts):
        sliced = baskets.where(F.col("ok") % parts == p)
        staged_rows += sliced.count()
        (sliced.coalesce(1).write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}",
                   f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    total = baskets.count()
    if staged_rows != total:
        raise AssertionError(
            f"basket staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def assoc_pairs_stream(spark, sf_dir: str, parts: int = 4):
    """STREAMING market-basket pair-support maintenance (the
    incremental twin of x_assoc_rules' level-2 pass, and the
    streaming store family's pair-count SUM-monoid member): each
    micro-batch of whole baskets self-joins WITHIN the batch (the
    basket-keyed split guarantees no pair ever crosses batches),
    appends its per-pair counts to an idempotent per-batch store
    (``pairs.b{id}``), and records a batch census; the final read
    SUM-merges the store into global supports with per-pair
    batch-coverage counts.  At-least-once retries rewrite the same
    batch dir byte-identically.  At 100 TB each batch's pair pass is
    the bounded per-basket fan-out join, and the store merge is one
    hash-agg over attribute-cardinality keys — the standing
    frequent-pattern monitor of an ingestion pipeline."""
    import glob as _glob

    from pyspark.sql import functions as F

    src_dir = _stage_baskets_by_mod(spark, sf_dir, parts)
    out = tempfile.mkdtemp(prefix="dtm_stream_assoc_")
    chk = os.path.join(out, "chk")

    def merge(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__assoc_batch")
        pairs = sess.sql(
            "SELECT a.item AS ia, b.item AS ib, "
            "CAST(count(*) AS BIGINT) AS cnt "
            "FROM __assoc_batch a JOIN __assoc_batch b "
            "ON a.ok = b.ok AND a.item < b.item "
            "GROUP BY a.item, b.item")
        (pairs.withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"pairs.b{batch_id}")))
        n_baskets = batch_df.select("ok").distinct().count()
        row = sess.sql(
            f"SELECT CAST({int(batch_id)} AS BIGINT) AS batch_id,"
            f" CAST({n_baskets} AS BIGINT) AS n_baskets")
        (row.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(out, f"census.b{batch_id}")))

    raw = (
        spark.readStream.schema("ok BIGINT, item STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pair_dirs = sorted(_glob.glob(os.path.join(out, "pairs.b*")))
    census_dirs = sorted(_glob.glob(os.path.join(out, "census.b*")))
    if not pair_dirs or not census_dirs:
        raise RuntimeError("streaming assoc pairs produced no store")
    store = spark.read.parquet(*pair_dirs)
    census = spark.read.parquet(*census_dirs)
    tot = census.agg(
        F.sum("n_baskets").cast("bigint").alias("n_baskets"))
    return (
        store.groupBy("ia", "ib")
        .agg(F.sum("cnt").cast("bigint").alias("sup"),
             F.countDistinct("batch_id").cast("bigint")
             .alias("n_batches"))
        .crossJoin(F.broadcast(tot))
        .selectExpr("ia", "ib", "sup", "n_batches", "n_baskets",
                    "CAST((sup * 1000) div n_baskets AS BIGINT)"
                    " AS support_pm")
    )


def _stage_events_by_hour(spark, sf_dir: str, parts: int = 4) -> str:
    """Stage event rows as ``parts`` HOUR-ALIGNED time-contiguous
    parquet slices: slice = quartile of the absolute hour index, so
    every (type, hour) cell lands whole in exactly one micro-batch
    and per-type hours arrive in time order across batches — the
    alignment an incremental hourly-rollup consumer needs (an
    event-time quantile split can cut an hour in half)."""
    import hashlib

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    d = f"/tmp/duckdb_title_mapper_spark_stream/{tag}_hourly{parts}"
    done = f"{d}/.staged"
    if os.path.exists(done):
        return d

    ev = load_events(spark, sf_dir).selectExpr(
        "event_type", "unix_micros(ts) div 3600000000 AS h")
    ev.createOrReplaceTempView("__stage_ev_hourly")
    sliced_all = spark.sql(f"""
      SELECT event_type, h,
             CAST(((h - mn) * {parts}) div (mx - mn + 1) AS INT)
               AS slice
      FROM __stage_ev_hourly
      CROSS JOIN (SELECT min(h) AS mn, max(h) AS mx
                  FROM __stage_ev_hourly) b""")
    os.makedirs(d, exist_ok=True)
    from pyspark.sql import functions as F

    staged_rows = 0
    for p in range(parts):
        sliced = sliced_all.where(F.col("slice") == p).select(
            "event_type", "h")
        staged_rows += sliced.count()
        (sliced.coalesce(1).write.mode("overwrite")
         .parquet(f"{d}/_build_{p}"))
        part_file = next(
            f for f in os.listdir(f"{d}/_build_{p}")
            if f.endswith(".parquet"))
        os.replace(f"{d}/_build_{p}/{part_file}",
                   f"{d}/slice_{p}.parquet")
        shutil.rmtree(f"{d}/_build_{p}", ignore_errors=True)
    import time as _time

    base = _time.time()
    for p in range(parts):
        os.utime(f"{d}/slice_{p}.parquet", (base + p, base + p))
    total = ev.count()
    if staged_rows != total:
        raise AssertionError(
            f"hourly staging lost rows: staged {staged_rows} of {total}")
    with open(done, "w") as f:
        f.write("ok")
    return d


def holt_stream(spark, sf_dir: str, parts: int = 4, pool: int = 48):
    """STREAMING Holt linear smoothing (x_holt_linear's stateful
    twin, certifying the iterative recursion across the
    batch/streaming boundary the way stream_queue_wait certifies the
    Lindley fold): hour-aligned time-contiguous slices replay the
    event firehose, an ``applyInPandasWithState`` operator keyed by
    event_type carries (hours_seen, level_s3, trend_s3) and folds the
    integer Holt recursion l = tdiv(y*1000 + 3*(l+b), 4),
    b = tdiv((l'-l) + 7*b, 8) over each batch's hourly counts in hour
    order, freezing after the first ``pool`` per-type hours; the
    final update per type must hash-match the batch recursive CTE at
    i = 48.  Constant-width per-type state; at 100 TB this is the
    live trend monitor beside the batch fit."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    src_dir = _stage_events_by_hour(spark, sf_dir, parts)

    state_schema = "i BIGINT, l BIGINT, b BIGINT"
    out_schema = ("event_type STRING, at_hour BIGINT, "
                  "level_s3 BIGINT, trend_s3 BIGINT, "
                  "forecast_s3 BIGINT")

    def tdiv(n, d):
        return n // d if n >= 0 else -((-n) // d)

    def fold(key, pdf_iter, state):
        (event_type,) = key
        i, l, b = state.get if state.exists else (0, 0, 0)
        counts = {}
        for pdf in pdf_iter:
            for h in pdf["h"]:
                counts[int(h)] = counts.get(int(h), 0) + 1
        for h in sorted(counts):
            if i >= pool:
                break
            vol = counts[h]
            i += 1
            if i == 1:
                l, b = vol * 1000, 0
            else:
                l_next = tdiv(vol * 1000 + 3 * (l + b), 4)
                b = tdiv((l_next - l) + 7 * b, 8)
                l = l_next
        state.update((i, l, b))
        yield pd.DataFrame([{
            "event_type": event_type, "at_hour": i,
            "level_s3": l, "trend_s3": b, "forecast_s3": l + b,
        }])

    raw = (
        spark.readStream.schema("event_type STRING, h BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    updates = raw.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from .windows import run_to_memory

    mem = run_to_memory(updates, mode="update")
    from pyspark.sql.window import Window

    w = F.row_number().over(
        Window.partitionBy("event_type")
        .orderBy(F.col("at_hour").desc()))
    return (
        mem.withColumn("rk", w).where(F.col("rk") == 1)
        .select("event_type", "at_hour", "level_s3", "trend_s3",
                "forecast_s3")
    )
