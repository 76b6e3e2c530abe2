"""File-sink exactly-once: re-running the same stream against the same
checkpoint + output path must not duplicate rows (the sink's commit log
plus the source's processed-file log make the rerun a no-op)."""

import os

SF_DIR = "/root/testdata/sf0.001"


def test_file_sink_rerun_is_noop(spark, tmp_path):
    from duckdb_title_mapper_spark.streaming import stream_events

    out = str(tmp_path)
    data, chk = os.path.join(out, "data"), os.path.join(out, "chk")

    def run():
        q = (
            stream_events(spark, SF_DIR)
            .writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    n1 = spark.read.parquet(data).count()
    assert n1 > 0
    run()  # same checkpoint: no new input files -> no new output
    n2 = spark.read.parquet(data).count()
    assert n2 == n1


def test_bad_csv_permissive_manifest(spark, tmp_path):
    """Pin the PERMISSIVE-mode parse the src_csv_badrecords oracle
    encodes, line by line (ADVICE r3): current Spark marks a too-short
    row ('5,50') corrupt under an explicit schema — historically short
    rows were null-padded without being flagged.  If a future Spark
    changes parser semantics this fails HERE, pointing at the static
    oracle that then needs re-deriving."""
    from duckdb_title_mapper_spark.workload import _BAD_CSV_LINES

    d = str(tmp_path)
    with open(os.path.join(d, "part-000.csv"), "w") as f:
        f.write("\n".join(_BAD_CSV_LINES) + "\n")
    rows = {
        r.id: r
        for r in spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("id BIGINT, qty INT, tag STRING, _corrupt_record STRING")
        .csv(d)
        .collect()
    }
    assert len(rows) == 6
    corrupt = {i for i, r in rows.items() if r._corrupt_record is not None}
    # type-mismatch row and short row are corrupt; empty field is a
    # legal NULL on a good row
    assert corrupt == {2, 5}
    assert rows[4]._corrupt_record is None and rows[4].qty is None
    good_qty = sum(r.qty for r in rows.values()
                   if r._corrupt_record is None and r.qty is not None)
    assert good_qty == 100  # the oracle's qty_sum


def _job_ids(spark, group, fn):
    """Spark job ids that ``fn()`` ran, read after a marker job in
    another group has reached the status store (the listener bus is
    ordered, so every job of ``fn`` is recorded by then)."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    marker = f"{group}-marker"
    sc.setJobGroup(marker, marker)
    try:
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def test_stage_slices_layout_and_reuse(spark, tmp_path):
    """The one slice stager: one file per slice holding exactly that
    slice's rows, mtimes strictly increasing in slice order, no build
    dirs left behind, and a staged dir reused without a Spark job."""
    from duckdb_title_mapper_spark.streaming.staging import stage_slices

    d = str(tmp_path / "staged")
    sliced = spark.range(40).selectExpr("id", "CAST(id % 3 AS INT) AS slice")
    assert _job_ids(spark, "stage-first",
                    lambda: stage_slices(d, sliced, 3))
    files = sorted(f for f in os.listdir(d) if not f.startswith("."))
    assert files == ["slice_0.parquet", "slice_1.parquet", "slice_2.parquet"]
    for p in range(3):
        rows = spark.read.parquet(os.path.join(d, f"slice_{p}.parquet"))
        assert rows.columns == ["id"]
        assert sorted(r.id for r in rows.collect()) == [
            i for i in range(40) if i % 3 == p]
    mtimes = [os.stat(os.path.join(d, f)).st_mtime for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    assert not [f for f in os.listdir(d) if f.startswith("_build_")]
    assert _job_ids(spark, "stage-again",
                    lambda: stage_slices(d, sliced, 3)) == []


def test_stage_slices_rejects_a_slice_column_that_is_not_total(spark,
                                                               tmp_path):
    """A slice expression that is NULL for some rows (the r5
    ``user_id % parts`` split lost NULL ids) must fail the staged-row
    assertion, and the dir must not be marked staged."""
    import pytest

    from duckdb_title_mapper_spark.streaming.staging import stage_slices

    d = str(tmp_path / "partial")
    sliced = spark.range(10).selectExpr(
        "id", "CASE WHEN id < 8 THEN CAST(id % 2 AS INT) END AS slice")
    with pytest.raises(AssertionError, match="staged 8 of 10"):
        stage_slices(d, sliced, 2)
    assert not os.path.exists(os.path.join(d, ".staged"))


def _add_store(spark, out):
    from duckdb_title_mapper_spark.streaming.sinks import current_store

    path = current_store(out)
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _add_fold(old, part):
    from pyspark.sql import functions as F

    return (old.unionByName(part).groupBy("k")
            .agg(F.sum("n").cast("bigint").alias("n")))


def _batch(spark, rows):
    vals = ", ".join(f"('{k}', CAST({n} AS BIGINT))" for k, n in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(k, n)")


def test_add_store_redelivery_after_flip_is_idempotent(spark, tmp_path):
    """A batch redelivered after its pointer flip (crash before Spark's
    commit-log write) rebuilds its version from the published version
    OLDER than it, so an ADD store does not count the batch twice."""
    from duckdb_title_mapper_spark.streaming.sinks import publish_version

    out = str(tmp_path)
    b0, b1, b2 = ([("a", 5), ("b", 1)], [("a", 6)], [("b", 2), ("c", 3)])
    publish_version(out, 0, _batch(spark, b0), _add_fold)
    publish_version(out, 1, _batch(spark, b1), _add_fold)
    assert _add_store(spark, out) == [("a", 11), ("b", 1)]
    publish_version(out, 1, _batch(spark, b1), _add_fold)
    assert _add_store(spark, out) == [("a", 11), ("b", 1)]
    publish_version(out, 2, _batch(spark, b2), _add_fold)
    want = [("a", 11), ("b", 3), ("c", 3)]
    assert _add_store(spark, out) == want
    # only versions older than the base are collected: the base of a
    # redelivered batch 2 survives, so the redelivery is exact too
    assert sorted(f for f in os.listdir(out) if f.startswith("store.v")) \
        == ["store.v1", "store.v2"]
    publish_version(out, 2, _batch(spark, b2), _add_fold)
    assert _add_store(spark, out) == want


def test_add_store_redelivery_before_flip_is_idempotent(spark, tmp_path):
    """A crash between the version write and the pointer flip leaves an
    unpublished ``store.v{id}``; the redelivered batch must neither fold
    into it nor keep it."""
    from duckdb_title_mapper_spark.streaming.sinks import publish_version

    out = str(tmp_path)
    publish_version(out, 0, _batch(spark, [("a", 5), ("b", 1)]), _add_fold)
    _batch(spark, [("a", 999)]).coalesce(1).write.parquet(
        os.path.join(out, "store.v1"))
    assert _add_store(spark, out) == [("a", 5), ("b", 1)]
    publish_version(out, 1, _batch(spark, [("a", 6)]), _add_fold)
    assert _add_store(spark, out) == [("a", 11), ("b", 1)]
