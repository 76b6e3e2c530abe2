"""Connected components: known component structure, determinism, and
convergence on chains longer than one propagation round.  The
single-source min-plus loops: materialization cadence per query."""

import importlib

import pytest

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
    # a zero-row edge relation has no vertices: the first round changes
    # no label, so the loop stops there
    empty = spark.sql("SELECT CAST(1 AS BIGINT) AS src, CAST(2 AS BIGINT) AS dst").where("false")
    out = connected_components(empty)
    assert out.columns == ["vertex", "component"]
    assert out.collect() == []


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_components_hashed_64bit_ids(spark, monkeypatch, mode):
    # ids near 2^62 and the BIGINT maximum, as hashed 64-bit keys give:
    # the convergence check must not depend on the ids' magnitude (a
    # label-sum probe overflows int64 here)
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
    top = 2**63 - 1
    chain = [2**62 + 1_000_003 * k for k in range(6)]
    pairs = list(zip(chain, chain[1:])) + [(top, top - 7), (top - 7, top - 3)]
    out = {
        r["vertex"]: r["component"]
        for r in connected_components(_edges(spark, pairs)).collect()
    }
    assert out == {**{v: chain[0] for v in chain},
                   **{v: top - 7 for v in (top, top - 7, top - 3)}}


@pytest.mark.parametrize("name, calls", [
    ("x_bfs_levels", {"materialize": 2}),
    ("x_sssp_bellman", {"materialize_adaptive": 4}),
    ("x_graph_diameter_sweep", {"materialize": 5}),
    ("x_temporal_reachability", {"materialize": 6}),
])
def test_min_plus_loops_keep_their_materialize_cadence(
        spark, sf_dir, monkeypatch, name, calls):
    """BFS, SSSP and the diameter sweep materialize every other
    relaxation (two per call); temporal reachability materializes every
    round because each round is also a trajectory snapshot.  Counts the
    top-level calls made while the query's DataFrame is built
    (``materialize_adaptive`` calls ``materialize`` itself)."""
    from duckdb_title_mapper_spark.workload import core_queries

    mod = importlib.import_module(
        "duckdb_title_mapper_spark.plans.materialize")
    counts, depth = {}, [0]

    def spy(fname, real):
        def wrapped(*args, **kwargs):
            if not depth[0]:
                counts[fname] = counts.get(fname, 0) + 1
            depth[0] += 1
            try:
                return real(*args, **kwargs)
            finally:
                depth[0] -= 1
        return wrapped

    for fname in ("materialize", "materialize_adaptive"):
        monkeypatch.setattr(mod, fname, spy(fname, getattr(mod, fname)))
    core_queries()[name].spark_fn(spark, sf_dir)
    assert counts == calls
