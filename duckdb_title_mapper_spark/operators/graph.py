"""Connected components — the transitive-closure stage of near-dup
clustering (candidate pairs → dedup groups).

Banded LSH (``dedup.py``, ``workload.x_near_dup_clusters``) emits *pairs*;
a dedup pipeline needs the transitive groups ("A≈B and B≈C ⇒ one keeper
for {A,B,C}").  That closure is inherently iterative — no single SQL pass
computes it — so this is one of the few operators where driver-side
iteration is the honest Spark shape: min-label propagation, each round a
join + groupBy (all Catalyst), converging in O(graph diameter) rounds.
At 100 TB this is the standard large-scale CC recipe (alternating-star
variants improve the constant; diameters of near-dup graphs are tiny).

The declared query's DuckDB oracle is a recursive CTE propagating labels
to a fixpoint — slower asymptotically, but exact, which is the point.
"""

from __future__ import annotations


def _maybe_broadcast(df):
    """Broadcast hint for vertex-sized loop state, gated on the
    deployment mode (r15): on local[N] the node-state relations of the
    iterative graph family are <= vertex-count rows and the static
    post-localCheckpoint plans otherwise SortMergeJoin the full edge
    relation every round; on a cluster (``reliable`` mode) the vertex
    set can be billions of rows, so the hint is withheld and the
    persisted relations keep real stats for AQE to pick the strategy."""
    from pyspark.sql import functions as F

    from ..plans.materialize import materialize_mode

    return df if materialize_mode() == "reliable" else F.broadcast(df)


def connected_components(edges_df, src: str = "src", dst: str = "dst",
                         max_iter: int = 25):
    """(vertex, component) for the undirected graph in ``edges_df``;
    component id = min vertex id in the component.  Deterministic."""
    from pyspark.sql import functions as F

    from ..plans.materialize import materialize as _mat, release as _release

    edges = _mat(
        edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges_df.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # materialize ONCE: the edge relation (often an expensive LSH
        # candidate-pair subplan) is consumed every round — without this
        # each iteration re-runs the whole upstream pipeline
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    prev_sum = None
    changed = -1
    for _ in range(max_iter):
        # r15: broadcast the vertex-sized label relation into the
        # edge-scale join — the static post-checkpoint plan otherwise
        # sorts the full edge relation every round
        neighbor_min = (
            edges.join(_maybe_broadcast(labels), edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        # r15: POINTER JUMPING rides each round — label(label(x))
        # halves the remaining propagation distance, so long-diameter
        # graphs converge in O(log d) rounds instead of d (the
        # dbscan grid graph measured 20 hash-min rounds over 204
        # cells; jumping cuts it to ~6).  label(x) is always a
        # same-component vertex id, so the jump join always hits and
        # the fixpoint (all labels = component min) is unchanged.
        jump = labels.selectExpr("id AS jid", "label AS jlabel")
        # materialize BEFORE the convergence probe so the probe reads a
        # materialized relation instead of re-deriving new_labels (also
        # cuts the otherwise-exponential lineage growth per round)
        new_labels = _mat(
            labels.join(_maybe_broadcast(neighbor_min),
                        labels.id == neighbor_min.a, "left")
            .join(_maybe_broadcast(jump), labels.label == F.col("jid"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nmin"), F.col("label")),
                    F.coalesce(F.col("jlabel"), F.col("label")),
                ).alias("label"),
            )
        )
        # convergence probe WITHOUT the per-round join (r15, guide
        # §2.4): hash-min labels only ever DECREASE (least of old and
        # neighbor min), so the exact BIGINT label sum is strictly
        # monotone and stalls iff no label changed — one aggregate
        # over the just-materialized relation replaces the
        # new-vs-old equi join + count.  Every in-repo caller's ids
        # are < 2^40 with < 2^20 vertices, so the sum stays far
        # inside int64 (no wrap, monotonicity exact).
        probe = new_labels.agg(
            F.sum("label"), F.max("label"), F.count("*")
        ).collect()[0]
        label_sum, label_max, n_vertices = probe[0], probe[1], probe[2]
        # an empty edge relation has no vertices: max(label) is NULL
        if (prev_sum is None and label_max is not None
                and label_max * n_vertices >= 2**62):
            # non-ANSI sum wraps silently; the monotone-stall probe is
            # only exact while sum(label) provably fits int64 (r15
            # ADVICE).  Labels only decrease, so checking the FIRST
            # round's (max, count) bounds every later round too.
            raise ValueError(
                "connected_components convergence probe needs "
                f"max(label) * n_vertices < 2^62 (got {label_max} * "
                f"{n_vertices}); re-key vertex ids before calling"
            )
        changed = 0 if label_sum == prev_sum else 1
        prev_sum = label_sum
        if labels is not new_labels:
            _release(labels)  # retire last round's materialization
        labels = new_labels
        if changed == 0:
            break
    else:
        # labels would be silently wrong on a graph with diameter >
        # max_iter; convergence is already measured each round, so a
        # non-converged exit must be loud, not a plausible result
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(label sum still decreasing); raise max_iter"
        )
    return labels.select(F.col("id").alias("vertex"), F.col("label").alias("component"))


PR_SCALE = 1_000_000_000_000  # fixed-point rank unit (1e12)


def pagerank_fixed_point(edges_df, src: str = "src", dst: str = "dst",
                         iters: int = 5, d_num: int = 17, d_den: int = 20,
                         materialize_every: int = 8):
    """PageRank over the symmetrized graph in FIXED-POINT INTEGER
    arithmetic: ranks are BIGINT multiples of 1/PR_SCALE, every step is
    integer div/mul/sum, so the result is bit-reproducible run-to-run
    AND across engines — which is what lets an *iterative* ranking carry
    an exact SQL oracle (``workload.x_pagerank`` unrolls the same steps
    as CTEs).  Damping d = d_num/d_den (default 17/20 = 0.85).

    Per iteration: one join (contributions rank div degree shipped along
    edges) + one aggregation — the standard scale shape; the edge
    relation is materialized once and reused every round.  Unlike
    connected components there is NO mid-loop action (no convergence
    probe — the iteration count is fixed), so rounds stay LAZY and the
    final action runs one deep plan; ``materialize_every`` caps plan
    depth for long runs (lineage checkpoints every N rounds — the knob
    that matters at 20+ iterations on a cluster, where unbounded plan
    depth breaks Catalyst long before data size matters).
    """
    from pyspark.sql import functions as F

    from ..plans.materialize import materialize as _mat, release as _release

    edges = _mat(
        edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges_df.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    verts = edges.select(F.col("a").alias("id")).distinct()
    # vertex count joined in-plan (1-row broadcast) — no driver scalar
    nrow = F.broadcast(verts.agg(F.count("*").alias("n")))

    vbase = verts.crossJoin(nrow)  # (id, n): stable, edge-derived subplan
    ranks = vbase.select(
        "id", "n", F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("r")
    )
    # all divisions are INTEGER div (not float-divide-then-cast): floor
    # semantics must match the oracle's // exactly, bit for bit
    base_expr = F.expr(
        f"CAST({(d_den - d_num) * PR_SCALE} AS BIGINT) div ({d_den} * n)"
    )
    materialized_prev = None
    for it in range(iters):
        contrib = (
            edges.join(ranks.select("id", "r"), edges.a == F.col("id"))
            .join(deg, "a")
            .select(F.col("b"), F.expr("r div deg").alias("c"))
        )
        sums = contrib.groupBy("b").agg(F.sum("c").alias("s"))
        # join sums back to vbase, NOT to ranks: referencing ranks twice
        # per round doubles the logical plan each iteration (2^iters
        # analysis cost); vbase keeps depth linear.  Every vertex of the
        # symmetrized graph has in-edges, so the left join is lossless.
        new_ranks = (
            vbase
            .join(sums, vbase.id == sums.b, "left")
            .select(
                "id",
                "n",
                (
                    base_expr
                    + F.expr(f"({d_num} * coalesce(s, CAST(0 AS BIGINT)))"
                             f" div {d_den}")
                ).alias("r"),
            )
        )
        if (it + 1) % materialize_every == 0:
            new_ranks = _mat(new_ranks)
            if materialized_prev is not None:
                _release(materialized_prev)
            materialized_prev = new_ranks
        ranks = new_ranks
    return ranks.select(F.col("id").alias("vertex"), F.col("r").alias("rank_fp"))


def triangle_count(edges_df, src: str = "src", dst: str = "dst"):
    """Per-vertex triangle membership counts for an undirected graph.

    Uses the ordered-edge enumeration: with every edge normalized to
    ``a < b``, each triangle ``a < b < c`` is produced exactly once by
    joining wedge (a,b)+(b,c) against closing edge (a,c) — the standard
    distributed recipe (two shuffle joins, no vertex ever sees more than
    its own adjacency).  At 100 TB the join keys are vertex ids, so AQE
    skew-split handles hub vertices; no adjacency list is ever collected.
    Returns (vertex, n_triangles) for vertices in >= 1 triangle.
    """
    from pyspark.sql import functions as F

    e = (
        edges_df.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("va"),
            F.col("e1.b").alias("vb"),
            F.col("e2.b").alias("vc"),
        )
    )
    verts = (
        tri.select(F.col("va").alias("vertex"))
        .union(tri.select(F.col("vb").alias("vertex")))
        .union(tri.select(F.col("vc").alias("vertex")))
    )
    return verts.groupBy("vertex").agg(F.count("*").alias("n_triangles"))


def kcore_peel_trajectory(edges_df, src: str = "src", dst: str = "dst",
                          rounds: int = 5, symmetrized: bool = False):
    """k-core peeling with the threshold k derived IN-QUERY as the
    median initial degree: each round drops every vertex whose degree
    *within the surviving subgraph* is below k, and the query reports
    the per-round trajectory (survivor count, in-core degree sum/max) —
    the degeneracy probe a graph pipeline runs to size a core-extraction
    budget.  On near-random graphs (the co-purchase projection) the
    collapse is the classic sharp core phase transition; the trajectory
    IS the informative output, so rounds are FIXED (both engines run
    exactly ``rounds`` refinements — no data-dependent loop count to
    certify).

    Spark shape: the alive set is re-derived per round by one
    edges-to-alive semi-join + groupBy (all Catalyst) and MATERIALIZED —
    each round consumes the previous alive relation twice (va and vb
    sides), so leaving rounds lazy would double the logical plan per
    round (the x_bpe_train CTE-inlining trap, ~2^rounds recompute).
    The DuckDB oracle unrolls the identical rounds as CTEs (DuckDB
    materializes CTEs, so the unrolled text is linear there).

    The median rank is selected WITHOUT division: rn*2 <= n < (rn+1)*2
    picks floor(n/2) — one integer idiom valid in both dialects.
    At 100 TB: per-round cost is one shuffle join on vertex ids (AQE
    skew-split handles hubs); the alive set shrinks monotonically, so
    round cost decays; O(diameter)-bounded variants swap the fixed
    count for a convergence probe (connected_components pattern).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..plans.materialize import materialize as _mat

    if symmetrized:
        # pre-symmetrized distinct parquet-backed input (redges store):
        # stable storage already, skip the union/distinct/materialize
        edges = edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        edges = _mat(
            edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges_df.select(F.col(dst).alias("a"),
                                   F.col(src).alias("b")))
            .distinct()
        )
    deg0 = _mat(
        edges.groupBy("a").agg(F.count("*").cast("bigint").alias("d"))
        .select(F.col("a").alias("id"), "d")
    )
    nv = F.broadcast(deg0.agg(F.count("*").cast("bigint").alias("n0")))
    # k = degree at ascending rank floor(n0/2) (ties broken by id) —
    # the same total order the oracle uses
    kpick = F.broadcast(
        deg0.select(
            "d",
            F.row_number().over(Window.orderBy("d", "id"))
            .cast("bigint").alias("rn"),
        )
        .crossJoin(nv)
        .where((F.col("rn") * 2 <= F.col("n0"))
               & ((F.col("rn") + 1) * 2 > F.col("n0")))
        .select(F.col("d").alias("k"), "n0")
    )
    alive = deg0
    stats = []
    for r in range(rounds + 1):
        stats.append(
            alive.agg(
                F.count("*").cast("bigint").alias("n_alive"),
                F.coalesce(F.sum("d"), F.lit(0)).cast("bigint")
                 .alias("degree_sum"),
                F.coalesce(F.max("d"), F.lit(0)).cast("bigint")
                 .alias("degree_max"),
            ).select(F.lit(r).cast("bigint").alias("round"), "*")
        )
        if r == rounds:
            break
        # r15: BROADCAST the (materialized, <= vertex-count) alive set
        # into both semi-join sides — the static post-checkpoint plan
        # otherwise sort-merge-joins the full edge relation twice per
        # round (measured 3.94 -> 1.87 s best-of-4 interleaved at
        # sf0.1, trajectory EQUAL)
        nxt = _mat(
            edges.join(_maybe_broadcast(alive.select(F.col("id").alias("bid"))),
                       edges.b == F.col("bid"))
            .join(_maybe_broadcast(alive.select(F.col("id"))),
                  edges.a == F.col("id"))
            .groupBy("id")
            .agg(F.count("*").cast("bigint").alias("d"))
            .crossJoin(kpick.select("k"))
            .where(F.col("d") >= F.col("k"))
            .select("id", "d")
        )
        alive = nxt
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.crossJoin(kpick).select(
        "round", "n_alive", "degree_sum", "degree_max", "k", "n0"
    )


LP_B = 1_000_000_000  # argmax packing base: count*B - label, label < B


def label_propagation_rounds(edges_df, src: str = "src", dst: str = "dst",
                             rounds: int = 3, symmetrized: bool = False):
    """Synchronous LABEL-PROPAGATION community detection, the
    deterministic variant: labels start as vertex ids; each round every
    vertex adopts the most frequent label among its neighbors, ties
    broken toward the SMALLEST label.  The argmax is packed into one
    integer — max(c*LP_B - label) — so round semantics are pure integer
    arithmetic, bit-equal across engines (labels are vertex ids < LP_B;
    c <= degree, so the packed score stays far inside BIGINT).  Rounds
    are FIXED (the trajectory after ``rounds`` synchronous steps is the
    declared result — no data-dependent stop to certify), and unlike
    k-core each round's labels relation has exactly ONE consumer (the
    next round's neighbor join), so the chain stays LAZY with linear
    plan growth; only the symmetrized edge relation (consumed every
    round) is materialized once.

    Returns (node, label) after ``rounds`` steps.  At 100 TB: one
    shuffle join + two partial-agged groupBys per round on vertex-id
    keys; hub vertices are AQE-skew territory like every other
    vertex-keyed join here.
    """
    from pyspark.sql import functions as F

    from ..plans.materialize import materialize as _mat

    if symmetrized:
        # caller supplies an already-symmetrized, already-distinct edge
        # relation (e.g. the parquet-backed __copurchase_redges store) —
        # stable storage, so no union/distinct/materialization needed
        edges = edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        edges = _mat(
            edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges_df.select(F.col(dst).alias("a"),
                                   F.col(src).alias("b")))
            .distinct()
        )
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node").cast("bigint"))
    )
    for _ in range(rounds):
        # r15: broadcast (mode-gated) the vertex-sized label relation —
        # the lazy chain otherwise sort-merge-joins the edge relation
        # every round; the labels subplan was already executed once per
        # consumer, so the broadcast build adds no extra recompute
        counts = (
            edges.join(_maybe_broadcast(labels), edges.b == labels.node)
            .groupBy(edges.a, labels.label)
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        packed = counts.groupBy("a").agg(
            F.max(F.col("c") * F.lit(LP_B) - F.col("label")).alias("m")
        )
        # unpack: c = ceil(m/B) (m is never a multiple of B: labels>=1),
        # label = c*B - m; all operands nonnegative => div/floor agree
        labels = packed.selectExpr(
            "a AS node",
            f"CAST(((m + {LP_B - 1}) div {LP_B}) * {LP_B} - m "
            "AS BIGINT) AS label",
        )
    return labels


HITS_SCALE = 1_000_000  # fixed-point hub/authority unit (1e6)


def hits_fixed_point(edges_df, src: str = "src", dst: str = "dst",
                     rounds: int = 4):
    """HITS hubs & authorities over a DIRECTED graph in FIXED-POINT
    INTEGER arithmetic — the mutually-recursive sibling of
    ``pagerank_fixed_point``.  Scores are BIGINT multiples of
    1/HITS_SCALE; each half-round is one edge join + one sum
    aggregation + an L-infinity normalization (score * SCALE div max),
    so the iteration is bit-reproducible across engines and
    ``workload.x_hits_scores`` can unroll the identical half-rounds as
    CTEs (max() OVER () on the oracle side — same floor-div values).

    L-infinity (divide by max), not L2: the max keeps everything in
    BIGINT and the argmax ranking is invariant to the norm choice.
    Overflow headroom: raw sums are <= SCALE * max_indegree, and the
    normalization multiply is <= max_raw * SCALE — SCALE=1e6 keeps the
    product under 2^63 for in-degrees up to ~9.2e6; for a graph with
    hotter vertices, lower SCALE (the ranking only needs enough
    fixed-point resolution to separate scores).

    Plan shape at 100 TB: the edge relation is materialized once and
    reused by all 2*rounds joins; the per-round max is a 1-row
    aggregate broadcast back (crossJoin of a 1-row relation), never a
    global window — no single-partition shuffle of the vertex set.
    """
    from pyspark.sql import functions as F

    from ..plans.materialize import materialize as _mat

    edges = _mat(edges_df.select(F.col(src).alias("a"),
                                 F.col(dst).alias("b")).distinct())
    hubs = edges.select(F.col("a").alias("id")).distinct().select(
        "id", F.lit(HITS_SCALE).cast("bigint").alias("v"))

    def _half(scores, join_on, out_key):
        # raw is consumed TWICE (the 1-row max AND the scaled select) —
        # left lazy, each half-round doubles the recompute and 2*rounds
        # of chaining goes exponential (the x_bpe_train / r7 kcore CTE
        # trap, measured 43 s -> ~2 s here).  Materialize per half; the
        # relation is vertex-sized, not edge-sized.
        # r15: broadcast (mode-gated) the vertex-sized score relation
        # into the edge-scale join — static plans otherwise sort the
        # edge relation every half-round
        raw = _mat(
            edges.join(_maybe_broadcast(scores),
                       edges[join_on] == scores.id)
            .groupBy(out_key)
            .agg(F.sum("v").alias("s"))
            .select(F.col(out_key).alias("id"), "s")
        )
        mx = F.broadcast(raw.agg(F.max("s").alias("mx")))
        return raw.crossJoin(mx).select(
            "id", F.expr(f"(s * {HITS_SCALE}) div mx").alias("v"))

    auths = None
    for _ in range(rounds):
        auths = _half(hubs, "a", "b")    # authority <- sum of in-hubs
        hubs = _half(auths, "b", "a")    # hub <- sum of out-authorities
    return hubs.select(F.col("id"), F.col("v").alias("hub_fp")), \
        auths.select(F.col("id"), F.col("v").alias("auth_fp"))


# ---------------------------------------------------------------------------
# shared co-purchase edge store (r13 — VERDICT r12 #4)
# ---------------------------------------------------------------------------

PAIRS_VIEW = "__copurchase_pairs"
_PAIRS_CACHE: dict = {}

# the projection every co-purchase graph query starts from: part pairs
# sharing an order, deduplicated.  The lineitem self-join + DISTINCT is
# the expensive build each consumer used to repeat.
COPURCHASE_PAIRS_SQL = (
    "SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d "
    "FROM lineitem a JOIN lineitem b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
)


REDGES_VIEW = "__copurchase_redges"
_REDGES_CACHE: dict = {}


def build_copurchase_redges(spark, sf_dir: str, force: bool = False):
    """Build (or fetch) the parquet-backed ORIENTED + RANKED edge view
    (r14 — VERDICT r13 #1) and register it as ``__copurchase_redges``.

    Columns: (a, b, rnk, deg) — the symmetrized co-purchase edges with
    a per-source destination rank (row_number PARTITION BY a ORDER BY b)
    and the source degree.  Every graph-loop query used to re-derive
    this exact relation per run (union of both pair orientations + two
    windows); the top-5 bench extras were all graph loops paying that
    build.  Rows are unique on (a, b) by construction (pairs are
    DISTINCT with s < d, so the two orientations cannot collide), so
    consumers that only need the symmetrized edge list read
    ``.select("a", "b")`` with no further DISTINCT.

    Same cross-query shared-state shape as ``build_copurchase_pairs``
    (parquet under a versioned /tmp dir keyed by (applicationId,
    sf_dir) — survives bench.py's clearCache; consumers schedule
    against storage).  ``x_copurchase_census`` owns the build cost
    (force=True); the walk/BFS/propagation family cache-hits."""
    import hashlib
    import os

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _REDGES_CACHE.get(key)
    if cached is not None and not force:
        cached[0].createOrReplaceTempView(REDGES_VIEW)
        return cached[0]
    pairs = build_copurchase_pairs(spark, sf_dir)
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{os.path.realpath(sf_dir)}"
        .encode()
    ).hexdigest()[:16]
    version = (cached[1] + 1) if cached is not None else 0
    from ..plans.tmpstore import store_root

    base = store_root("redges")
    path = f"{base}/{tag}.v{version}"
    (
        pairs.selectExpr("s AS a", "d AS b")
        .union(pairs.selectExpr("d AS a", "s AS b"))
        .selectExpr(
            "a", "b",
            "CAST(row_number() OVER (PARTITION BY a ORDER BY b)"
            " AS BIGINT) AS rnk",
            "CAST(count(*) OVER (PARTITION BY a) AS BIGINT) AS deg",
        )
        .write.mode("overwrite").parquet(path)
    )
    df = spark.read.parquet(path)
    _REDGES_CACHE[key] = (df, version)
    if cached is not None:
        from ..plans.tmpstore import defer_rmtree

        defer_rmtree(f"{base}/{tag}.v{cached[1]}")
    df.createOrReplaceTempView(REDGES_VIEW)
    return df


def build_copurchase_pairs(spark, sf_dir: str, force: bool = False):
    """Build (or fetch) the parquet-backed co-purchase pair store and
    register it as the ``__copurchase_pairs`` temp view.

    The grams.build_census pattern verbatim (the sanctioned CROSS-QUERY
    shared-state shape): PARQUET round trip under a versioned /tmp dir
    keyed by (applicationId, sf_dir) — survives bench.py's clearCache
    between queries, prunes columns per consumer, and is the 100 TB
    shape (consumers schedule against storage, not a repeated
    lineitem self-join).  ``x_copurchase_census`` owns the build
    (``force=True``) so its bench time is the honest cold cost; the
    graph-family loops (label propagation, BFS, k-core, feature
    propagation) cache-hit."""
    import hashlib
    import os

    from ..workload import register_views

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _PAIRS_CACHE.get(key)
    if cached is not None and not force:
        cached[0].createOrReplaceTempView(PAIRS_VIEW)
        return cached[0]
    register_views(spark, sf_dir, "lineitem")
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{os.path.realpath(sf_dir)}"
        .encode()
    ).hexdigest()[:16]
    version = (cached[1] + 1) if cached is not None else 0
    from ..plans.tmpstore import store_root

    base = store_root("copurchase")
    path = f"{base}/{tag}.v{version}"
    spark.sql(COPURCHASE_PAIRS_SQL).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    _PAIRS_CACHE[key] = (df, version)
    if cached is not None:
        from ..plans.tmpstore import defer_rmtree

        defer_rmtree(f"{base}/{tag}.v{cached[1]}")
    df.createOrReplaceTempView(PAIRS_VIEW)
    return df
