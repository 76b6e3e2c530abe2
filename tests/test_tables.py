"""The per-file footer-schema memo behind ``load_table``: a known file is
read with its schema and runs no Spark job, and anything that changes
what Spark would infer (a rewrite, a footer-inference setting, a
directory's contents) is inferred again."""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from duckdb_title_mapper_spark.sources.tables import load_table, read_parquet

def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"test_tables_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                             "s": pa.array(["a", "b", "c"])}),
                   str(tmp_path / "t.parquet"))
    sf_dir = str(tmp_path)
    first, n_first = _jobs(spark, lambda: load_table(spark, sf_dir, "t"))
    second, n_second = _jobs(spark, lambda: load_table(spark, sf_dir, "t"))
    assert n_first >= 1  # the footer-inference job the memo saves
    assert n_second == 0
    assert second.schema == first.schema
    assert second.schema == spark.read.parquet(f"{sf_dir}/t.parquet").schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_gives_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": pa.array(["x"]),
                             "c": pa.array([2.5])}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert df.collect()[0]["b"] == "x"


def test_binary_as_string_changes_inferred_type(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"blob": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(read_parquet(spark, path).dtypes)["blob"] == "binary"
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert dict(df.dtypes)["blob"] == "string"
        assert df.collect()[0]["blob"] == "ab"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_overwritten_directory_is_reread(spark, tmp_path):
    path = str(tmp_path / "out")
    spark.range(3).withColumn("a", F.col("id") * 2).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id", "a"]
    spark.range(2).select(F.col("id").cast("string").alias("z")) \
        .write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["z"]
    assert sorted(r["z"] for r in df.collect()) == ["0", "1"]


def test_two_loads_self_join(spark, sf_dir):
    # nation is 25 rows, five per region, at every scale factor
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation")
    assert n1.join(n2, n1.n_regionkey == n2.n_regionkey).count() == 125
