"""Connected components: known component structure, determinism, and
convergence on chains longer than one propagation round."""

from duckdb_title_mapper_spark.operators.graph import connected_components


def _edges(spark, pairs):
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)")


def test_components_basic(spark):
    # {1,2,3} via chain, {7,8}, and 9 only appears as an isolated self-pair
    out = {
        r["vertex"]: r["component"]
        for r in connected_components(
            _edges(spark, [(1, 2), (2, 3), (7, 8), (9, 9)])
        ).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[7] == out[8] == 7
    assert out[9] == 9


def test_components_long_chain_converges(spark):
    # a 12-node path: min label must walk the full diameter
    chain = [(i, i + 1) for i in range(100, 112)]
    out = {
        r["vertex"]: r["component"]
        for r in connected_components(_edges(spark, chain)).collect()
    }
    assert set(out.values()) == {100}
    assert len(out) == 13


def test_components_empty_edge_relation(spark):
    # a zero-row edge relation has no vertices: the convergence probe's
    # max(label) is NULL, and the int64 bound check must not multiply it
    empty = spark.sql("SELECT CAST(1 AS BIGINT) AS src, CAST(2 AS BIGINT) AS dst").where("false")
    out = connected_components(empty)
    assert out.columns == ["vertex", "component"]
    assert out.collect() == []
