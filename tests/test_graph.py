"""Connected components: known component structure, determinism,
convergence on chains longer than one propagation round, and agreement
with a Python union-find on seeded random graphs.  The graph loops:
materialization cadence per query."""

import importlib
import random

import pytest

from duckdb_title_mapper_spark.operators.graph import connected_components


def _edges(spark, pairs):
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)")


def _union_find(pairs):
    """vertex -> component min; a NULL endpoint is its own vertex with a
    NULL component and joins nothing."""
    parent = {v: v for pair in pairs for v in pair}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            # the smaller root wins, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    return {v: None if v is None else find(v) for v in parent}


def _random_graph(case, seed):
    rng = random.Random(seed)
    if case == "sparse":
        return [(rng.randrange(80), rng.randrange(80)) for _ in range(50)]
    if case == "star":
        hub = rng.randrange(10, 30)
        return [(hub, leaf) for leaf in rng.sample(range(100), 25) if leaf != hub]
    if case == "path40":
        ids = rng.sample(range(1000), 40)
        return list(zip(ids, ids[1:]))
    if case == "dup_reversed":
        base = [(rng.randrange(30), rng.randrange(30)) for _ in range(15)]
        return base + [(b, a) for a, b in base] + base[:5]
    if case == "self_pairs":
        base = [(rng.randrange(20), rng.randrange(20)) for _ in range(8)]
        return base + [(v, v) for v in rng.sample(range(40), 10)]
    if case == "null_endpoint":
        base = [(rng.randrange(20), rng.randrange(20)) for _ in range(10)]
        return base + [(None, rng.randrange(20)), (rng.randrange(50, 60), None)]
    if case == "hashed64":
        ids = [rng.randrange(-2**63, 2**63) for _ in range(12)]
        return [(rng.choice(ids), rng.choice(ids)) for _ in range(10)]
    raise ValueError(case)


def _components(spark, pairs):
    df = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
    rows = connected_components(df).collect()
    out = {r["vertex"]: r["component"] for r in rows}
    assert len(out) == len(rows)  # one row per vertex
    return out


@pytest.mark.parametrize("case", ["sparse", "star", "path40", "dup_reversed",
                                  "self_pairs", "null_endpoint", "hashed64"])
def test_components_match_union_find(spark, case):
    for seed in (11, 12, 13):
        pairs = _random_graph(case, seed)
        assert _components(spark, pairs) == _union_find(pairs), (case, seed)


@pytest.mark.parametrize("case", ["star", "dup_reversed", "self_pairs",
                                  "null_endpoint", "hashed64"])
def test_components_match_union_find_reliable(spark, monkeypatch, case):
    # small-diameter graphs only: reliable mode keeps each round's
    # lineage, so long chains grow the plan past the driver heap
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    pairs = _random_graph(case, 11)
    assert _components(spark, pairs) == _union_find(pairs)


def test_components_reject_nonpositive_max_iter(spark):
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(_edges(spark, [(1, 2)]), max_iter=0)


def test_components_raise_when_not_converged(spark):
    # one round after the seed cannot span a 40-vertex path
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(_edges(spark, [(k, k + 1) for k in range(39)]),
                             max_iter=1)


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


def _materialize_calls(spark, sf_dir, monkeypatch, name):
    """Top-level ``materialize``/``materialize_adaptive`` calls made
    while query ``name``'s DataFrame is built (``materialize_adaptive``
    calls ``materialize`` itself)."""
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
    return counts


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
    round because each round is also a trajectory snapshot."""
    assert _materialize_calls(spark, sf_dir, monkeypatch, name) == calls


@pytest.mark.parametrize("name, calls", [
    ("x_connected_components", 2),
    ("x_dedup_pipeline", 2),
    ("x_dbscan_grid", 10),
])
def test_components_keep_their_materialize_cadence(
        spark, sf_dir, monkeypatch, name, calls):
    """Connected components materializes its edges once, then once per
    round; the seed is one hash-min step left in-plan, so the catalog's
    near-dup graphs converge in the first round (x_dbscan_grid also
    materializes its core cells and runs more rounds)."""
    assert _materialize_calls(spark, sf_dir, monkeypatch, name) == {
        "materialize": calls}
