"""k-means Lloyd loop: step-1 parity with the SQL oracle's assignment,
inertia monotonicity, and determinism across reruns."""

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from duckdb_title_mapper_spark.workload import load

    return load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


def test_inertia_non_increasing(spark, emb):
    from duckdb_title_mapper_spark.operators.clustering import kmeans_lloyd

    _, _, inertias = kmeans_lloyd(spark, emb, k=8, max_iter=4)
    assert len(inertias) >= 1
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-9


def test_first_assignment_matches_sql_step(spark, emb):
    """Round-1 assignment (seed centroids = first k vectors) must agree
    with the x_kmeans_step_i oracle's assign CTE on membership counts."""
    from pyspark.sql import functions as F

    from duckdb_title_mapper_spark.operators.clustering import (
        assign_to_centroids,
    )
    from duckdb_title_mapper_spark.workload import (
        _kmeans_step_sql,
        register_views,
    )

    k = 16
    seeds = [
        list(r.v)
        for r in emb.orderBy("vec_id").limit(k)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]
    ours = {
        r.cid: r.n
        for r in assign_to_centroids(spark, emb, seeds)
        .groupBy(F.col("__cid").alias("cid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    register_views(spark, SF_DIR, "embeddings")
    sql = {
        (r.cid, r.dim): r.n_assigned
        for r in spark.sql(_kmeans_step_sql(True, k)).collect()
    }
    sql_counts = {cid: n for (cid, dim), n in sql.items() if dim == 0}
    assert ours == sql_counts


def test_kernels_bit_identical(spark, emb):
    """The Arrow/numpy kernel's dimension-sequential accumulation must
    reproduce the SQL fold's doubles exactly — same dist, same argmin."""
    from pyspark.sql import functions as F

    from duckdb_title_mapper_spark.operators.clustering import (
        assign_to_centroids,
    )

    seeds = [
        list(r.v)
        for r in emb.orderBy("vec_id").limit(16)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ]

    def grab(kernel):
        return sorted(
            (r["vec_id"], r["__cid"], r["__dist"])
            for r in assign_to_centroids(spark, emb, seeds, kernel=kernel)
            .select("vec_id", "__cid", "__dist")
            .collect()
        )

    assert grab("pandas") == grab("sql")


def test_fit_deterministic(spark, emb):
    from duckdb_title_mapper_spark.operators.clustering import kmeans_lloyd

    def run():
        assigned, cents, _ = kmeans_lloyd(spark, emb, k=8, max_iter=2)
        return (
            sorted(tuple(r) for r in assigned.select("vec_id", "__cid").collect()),
            cents,
        )

    a1, c1 = run()
    a2, c2 = run()
    assert a1 == a2
    assert c1 == c2
