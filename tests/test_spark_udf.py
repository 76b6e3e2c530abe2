"""Spark-side E2E: register() + SQL surface (R3, R13, R14) and the v2
DataFrame form equivalence."""

import pytest

from goldens import AUTHORITATIVE, CORPUS_104


def test_udf_absent_before_register(spark):
    # the analogue of the reference's pre-LOAD Catalog Error
    # (test/sql/title_mapper.test:5-9)
    from pyspark.errors import AnalysisException

    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS standardize_title")
    with pytest.raises(AnalysisException):
        spark.sql("SELECT standardize_title('poet')").collect()


def test_register_and_sql_goldens(spark):
    import duckdb_title_mapper_spark as engine

    engine.register(spark)
    df = spark.createDataFrame(
        [(t,) for t in AUTHORITATIVE], "title STRING"
    )
    df.createOrReplaceTempView("job_titles")
    rows = spark.sql(
        "SELECT title, standardize_title(title) AS standardized FROM job_titles"
    ).collect()
    got = {r.title: r.standardized for r in rows}
    assert got == AUTHORITATIVE


def test_null_in_null_out(spark):
    import duckdb_title_mapper_spark as engine

    engine.register(spark)
    rows = spark.sql(
        "SELECT standardize_title(CAST(NULL AS STRING)) AS s"
    ).collect()
    assert rows[0].s is None


def test_groupby_on_udf_result(spark):
    # R7/R13: grouping on the computed key is consistent with projection
    import duckdb_title_mapper_spark as engine

    engine.register(spark)
    df = spark.createDataFrame(
        [("poet",), ("poet",), ("author",)], "title STRING"
    )
    df.createOrReplaceTempView("jt")
    rows = spark.sql(
        """
        SELECT standardize_title(title) AS standardized, COUNT(*) AS cnt
        FROM jt GROUP BY standardize_title(title) ORDER BY cnt DESC
        """
    ).collect()
    assert rows[0].standardized == "Poet - Writers and Authors"
    assert rows[0].cnt == 2


def test_dataframe_v2_matches_v1_fuzz(spark):
    """Adversarial fuzz: v1 (UDF) == v2 (posting join) on seeded random
    strings — unicode, punctuation, digits, empties, repeats, long
    inputs — plus NULL handling (NULL in -> NULL out in both forms)."""
    import random

    from pyspark.sql import functions as F

    import duckdb_title_mapper_spark as engine
    from duckdb_title_mapper_spark.operators.standardize import (
        standardize_titles_df,
    )

    rng = random.Random(42)
    alphabet = "abcdefghij XYZ0123456789_.,-/()&' éñü日本語"
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(40)
    ]
    fuzz += ["", "   ", "!!!", "señor engineer", "engineer " * 50,
             "ENGINEER", "eNgInEeR mAnAgEr", "12345", "ééé"]
    fuzz += fuzz[:5]  # duplicates exercise the batch-dedup path

    engine.register(spark)
    df = spark.createDataFrame([(t,) for t in fuzz], "title STRING")
    v1 = [
        (r.title, r.s)
        for r in df.select(
            "title", F.expr("standardize_title(title)").alias("s")
        ).collect()
    ]
    v2_df = standardize_titles_df(spark, df, "title", out_col="s")
    v2 = [(r.title, r.s) for r in v2_df.collect()]
    assert sorted(v1) == sorted(v2)

    nulls = spark.sql("SELECT CAST(NULL AS STRING) AS title")
    (r1,) = nulls.select(F.expr("standardize_title(title)").alias("s")).collect()
    (r2,) = standardize_titles_df(spark, nulls, "title", out_col="s").collect()
    assert r1.s is None and r2.s is None


def test_dataframe_v2_matches_v1(spark):
    """Property: the pure-DataFrame posting-list form (SURVEY §4.3) agrees
    with the UDF form on the whole 104-title corpus (incl. the OOV
    'philosopher' fallback)."""
    from pyspark.sql import functions as F

    import duckdb_title_mapper_spark as engine
    from duckdb_title_mapper_spark.operators.standardize import standardize_titles_df

    engine.register(spark)
    titles = list(CORPUS_104)
    df = spark.createDataFrame([(t,) for t in titles], "title STRING")
    v1 = {
        r.title: r.s
        for r in df.select("title", F.expr("standardize_title(title)").alias("s")).collect()
    }
    v2_df = standardize_titles_df(spark, df, "title", out_col="s")
    v2 = {r.title: r.s for r in v2_df.collect()}
    assert v1 == v2
    assert v1 == CORPUS_104


def _assert_v2_matches_v1(spark, df, out_col="s"):
    """v2 adds to every row of ``df`` exactly the column v1 computes."""
    from pyspark.sql import functions as F

    import duckdb_title_mapper_spark as engine
    from duckdb_title_mapper_spark.operators.standardize import standardize_titles_df

    engine.register(spark)
    v2_df = standardize_titles_df(spark, df, "title", out_col=out_col)
    assert v2_df.columns == df.columns + [out_col]
    v1 = df.withColumn(out_col, F.expr("standardize_title(title)")).collect()
    v2 = v2_df.collect()
    assert sorted(map(tuple, v1), key=repr) == sorted(map(tuple, v2), key=repr)
    return v2


def test_dataframe_v2_zero_rows(spark):
    df = spark.createDataFrame([], "title STRING")
    assert _assert_v2_matches_v1(spark, df) == []


def test_dataframe_v2_all_null(spark):
    df = spark.createDataFrame([(i, None) for i in range(3)], "id INT, title STRING")
    rows = _assert_v2_matches_v1(spark, df)
    assert len(rows) == 3 and all(r.s is None for r in rows)


def test_dataframe_v2_titles_over_partitions(spark):
    """The same titles in every partition: the distinct dedups across
    partitions and the join gives every input row its output once."""
    titles = (list(CORPUS_104) + [None]) * 3
    df = spark.createDataFrame(
        list(enumerate(titles)), "id INT, title STRING").repartition(4)
    rows = _assert_v2_matches_v1(spark, df)
    assert len(rows) == len(titles)
    assert sorted(r.id for r in rows) == list(range(len(titles)))


def test_dataframe_v2_out_col_with_space(spark):
    df = spark.createDataFrame([(t,) for t in AUTHORITATIVE], "title STRING")
    rows = _assert_v2_matches_v1(spark, df, out_col="std title")
    assert {r["title"]: r["std title"] for r in rows} == AUTHORITATIVE


def test_dataframe_v2_does_not_materialize(spark, monkeypatch):
    """The title set has one consumer, so nothing is checkpointed."""
    from duckdb_title_mapper_spark.plans import materialize as mat

    calls = []
    inner = mat.materialize
    monkeypatch.setattr(mat, "materialize",
                        lambda *a, **k: calls.append(a) or inner(*a, **k))
    df = spark.createDataFrame([(t,) for t in AUTHORITATIVE], "title STRING")
    _assert_v2_matches_v1(spark, df)
    assert calls == []
