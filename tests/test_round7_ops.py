"""Round-7 operator semantics: Bloom semi-join pruning, streaming
Bloom-filter maintenance (the OR-monoid sketch member), and the MP4
curation-report composition."""

import hashlib


def _h32(s: str, start: int = 0) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[start:start + 8], 16)


SF = SF_DIR = "/root/testdata/sf0.001"


def test_bloom_semijoin_no_false_negatives_and_sane_fp(spark):
    """Every true semi-join key must pass the filter (zero false
    negatives is the Bloom contract) and false positives can only
    inflate, never deflate, the pass set."""
    from duckdb_title_mapper_spark.workload import all_queries

    row = all_queries()["x_bloom_semijoin_prune"].spark_fn(
        spark, SF
    ).collect()[0]
    assert row.n_false_neg == 0
    assert row.n_pass >= row.n_true
    assert row.n_pass == row.n_true + row.n_false_pos
    assert row.n_probe >= row.n_pass
    assert row.n_build > 0 and row.n_words_used > 0


def test_bloom_filter_bits_match_python_recompute(spark):
    """The filter words the query builds must equal a from-scratch
    Python Bloom over the same build keys (k=3 md5 slices, 63-bit
    words) — proves the SQL bit arithmetic, not just the verdict."""
    import duckdb

    from duckdb_title_mapper_spark.workload import register_views

    register_views(spark, SF, "orders", "lineitem")
    m = 4096 * 63
    got = {
        r.w: r.mask
        for r in spark.sql(f"""
            WITH bk AS (SELECT DISTINCT o_orderkey AS key FROM orders
                        WHERE o_orderpriority = '1-URGENT'),
            bpos AS (
              SELECT CAST(conv(substr(md5(CAST(key AS STRING)), 1, 8),
                   16, 10) AS BIGINT) % {m} AS pos FROM bk
              UNION ALL
              SELECT CAST(conv(substr(md5(CAST(key AS STRING)), 9, 8),
                   16, 10) AS BIGINT) % {m} AS pos FROM bk
              UNION ALL
              SELECT CAST(conv(substr(md5(CAST(key AS STRING)), 17, 8),
                   16, 10) AS BIGINT) % {m} AS pos FROM bk)
            SELECT w, CAST(bit_or(bv) AS BIGINT) AS mask
            FROM (SELECT pos div 63 AS w,
                         shiftleft(CAST(1 AS BIGINT),
                                   CAST(pos % 63 AS INT)) AS bv
                  FROM bpos) b GROUP BY w""").collect()
    }
    keys = [
        k for (k,) in duckdb.sql(
            f"SELECT DISTINCT o_orderkey FROM '{SF}/orders.parquet' "
            "WHERE o_orderpriority = '1-URGENT'"
        ).fetchall()
    ]
    want = {}
    for k in keys:
        for start in (0, 8, 16):
            pos = _h32(str(k), start) % m
            w, b = pos // 63, pos % 63
            want[w] = want.get(w, 0) | (1 << b)
    assert got == want


def test_stream_bloom_equals_batch_filter(spark):
    """The OR-merged streaming store must equal the batch filter over
    all user keys — and OR-merging the store with itself must be a
    no-op (idempotence, the at-least-once absorption property)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["stream_bloom_words"].spark_fn(
        spark, SF_DIR
    ).collect()
    got = {r.w: r.mask for r in rows}

    users = [
        u for (u,) in duckdb.sql(
            f"SELECT user_id FROM '{SF_DIR}/events.parquet'"
        ).fetchall()
    ]
    m = 512 * 63
    want = {}
    for u in users:
        for start in (0, 8, 16):
            pos = _h32(str(u), start) % m
            w, b = pos // 63, pos % 63
            want[w] = want.get(w, 0) | (1 << b)
    assert got == want
    # idempotence: OR with itself changes nothing
    assert {w: mk | mk for w, mk in got.items()} == got
    # 63-bit discipline: no word ever goes negative
    assert all(mk >= 0 for mk in got.values())


def test_media_curation_report_masses_are_consistent(spark):
    """Cell masses must tie out: kept <= total per cell, and the
    global video count equals the corpus size (every doc is one MP4)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_media_curation_report"].spark_fn(
        spark, SF
    ).collect()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r.n_videos for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.n_kept <= r.n_videos
        assert 0 <= r.kept_secs <= r.total_secs
        assert r.min_pixels <= r.max_pixels
        if r.dur_class == "clip":
            # keep rule needs secs >= 3; clips are < 5s so kept <= total
            assert r.n_kept <= r.n_videos


def test_skyline_pareto_matches_brute_force(spark):
    """The one-window-pass skyline must equal the quadratic NOT EXISTS
    dominance definition, and no returned point may dominate another
    within the same nation (frontier property)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_skyline_pareto"].spark_fn(spark, SF).collect()
    got = sorted((r.nation, r.total_cents, r.n_orders) for r in rows)
    want = sorted(duckdb.sql(f"""
        WITH per_cust AS (
          SELECT o_custkey, count(*) AS n_orders,
                 sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS total_cents
          FROM '{SF}/orders.parquet' GROUP BY o_custkey),
        pts AS (
          SELECT n.n_name AS nation, p.total_cents, p.n_orders
          FROM per_cust p
          JOIN '{SF}/customer.parquet' c ON c.c_custkey = p.o_custkey
          JOIN '{SF}/nation.parquet' n ON n.n_nationkey = c.c_nationkey
          GROUP BY ALL)
        SELECT nation, total_cents, n_orders FROM pts a
        WHERE NOT EXISTS (SELECT 1 FROM pts b WHERE b.nation = a.nation
          AND b.total_cents >= a.total_cents
          AND b.n_orders >= a.n_orders
          AND (b.total_cents > a.total_cents
               OR b.n_orders > a.n_orders))""").fetchall())
    assert got == want
    for na, xa, ya in got:
        for nb, xb, yb in got:
            if na == nb and (xa, ya) != (xb, yb):
                assert not (xb >= xa and yb >= ya)


def test_kcore_peel_matches_python_recompute(spark):
    """The fixed-round peel trajectory must equal a from-scratch Python
    peel over the same co-purchase edges (median-degree k, in-subgraph
    degree recount per round) — proves the iterative operator, not just
    the oracle text."""
    from collections import defaultdict

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_kcore_peel"].spark_fn(spark, SF).collect()
    got = sorted(
        (r["round"], r.n_alive, r.degree_sum, r.degree_max, r.k, r.n0)
        for r in rows
    )
    pairs = duckdb.sql(f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{SF}/lineitem.parquet' a JOIN '{SF}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey""").fetchall()
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    n0 = len(deg)
    ranked = sorted(deg.items(), key=lambda kv: (kv[1], kv[0]))
    k = ranked[n0 // 2 - 1][1]  # rank floor(n0/2), 1-indexed rn
    alive = dict(deg)
    want = []
    for r in range(6):
        want.append((
            r, len(alive), sum(alive.values()),
            max(alive.values()) if alive else 0, k, n0,
        ))
        if r == 5:
            break
        alive = {
            v: d
            for v, d in (
                (v, sum(1 for u in adj[v] if u in alive)) for v in alive
            )
            if d >= k
        }
    assert got == sorted(want)
    n_alive_seq = [t[1] for t in sorted(want)]
    assert n_alive_seq == sorted(n_alive_seq, reverse=True)


def test_hll_rollup_merge_equals_direct(spark):
    """The 'ALL' row must be derivable from per-source registers by
    per-bucket MAX and must equal a direct Python HLL over all hashes
    — the mergeability property, executed."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_hll_rollup"].spark_fn(spark, SF).collect()
    by_scope = {r.scope: r for r in rows}
    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM '{SF}/documents.parquet'"
    ).fetchall()]
    regs = {}
    seen = set()
    for t in texts:
        hv = _h32(t)
        if hv in seen:
            continue
        seen.add(hv)
        j, w = hv >> 26, hv & ((1 << 26) - 1)
        r = 27 if w == 0 else 27 - w.bit_length()
        regs[j] = max(regs.get(j, -1), r)
    rmax = max(regs.values())
    k_total = sum(1 << (rmax - r) for r in regs.values()) \
        + (64 - len(regs)) * (1 << rmax)
    got = by_scope["ALL"]
    assert got.rmax == rmax and got.k_total == k_total
    assert got.true_distinct == len(seen)
    assert got.est_distinct == 709 * 4096 * (1 << rmax) // k_total // 1000
    src_scopes = [s for s in by_scope if s != "ALL"]
    assert len(src_scopes) >= 2
    assert sum(by_scope[s].true_distinct for s in src_scopes) \
        >= got.true_distinct


def test_ivm_merge_equals_recompute_and_op_classes(spark):
    """The incremental full-outer merge must equal the direct
    recompute, and op classes must reflect base/delta membership."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_ivm_agg_merge"].spark_fn(spark, SF).collect()
    got = {(r.o_custkey, r.o_orderpriority):
           (r.n_orders, r.total_cents, r.op) for r in rows}
    want = {}
    for ck, pri, n, cents, op in duckdb.sql(f"""
        SELECT o_custkey, o_orderpriority, count(*),
               sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)),
               CASE WHEN count(CASE WHEN o_orderdate <
                      TIMESTAMP '2000-10-01 00:00:00' THEN 1 END) = 0
                    THEN 'insert'
                    WHEN count(CASE WHEN o_orderdate >=
                      TIMESTAMP '2000-10-01 00:00:00' THEN 1 END) = 0
                    THEN 'carry' ELSE 'update' END
        FROM '{SF}/orders.parquet'
        GROUP BY o_custkey, o_orderpriority""").fetchall():
        want[(ck, pri)] = (n, cents, op)
    assert got == want
    assert {op for (_, _, op) in got.values()} <= {
        "insert", "update", "carry"
    }
    assert any(op == "update" for (_, _, op) in got.values())


def test_record_linkage_scores_recompute(spark):
    """Every returned pair's score must equal the Python recompute of
    the agreement-weight sum, class boundaries must hold, and no pair
    may cross a blocking key."""
    import re

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_record_linkage_fs"].spark_fn(
        spark, SF
    ).collect()
    docs = {
        d: (t, lang, srcv, n) for d, t, lang, srcv, n in duckdb.sql(
            f"SELECT doc_id, text, lang, source, n_chars "
            f"FROM '{SF}/documents.parquet'"
        ).fetchall()
    }
    assert rows
    for r in rows:
        ta, la, sa, na = docs[r.doc_a]
        tb, lb, sb, nb = docs[r.doc_b]
        assert ta.split(" ")[0] == tb.split(" ")[0]
        assert na // 128 == nb // 128
        wa = set(re.findall(r"\w+", ta.lower()))
        wb = set(re.findall(r"\w+", tb.lower()))
        inter, ssum = len(wa & wb), len(wa) + len(wb)
        score = (161 if la == lb else -278)
        score += 300 if 3 * inter >= ssum else (
            80 if 6 * inter >= ssum else -150)
        score += 50 if sa == sb else -20
        score += 100 if abs(na - nb) * 16 <= min(na, nb) else -80
        assert score == r.score and score >= 0
        assert r.link_class == ("match" if score >= 350 else "possible")


def test_hilbert_table_matches_reference_xy2d():
    """_HILBERT_PACKED must reproduce the classic xy2d loop for every
    point of the 256x256 grid — the pure-Python pin of the state
    machine the SQL chain encodes."""
    from duckdb_title_mapper_spark.workload import _HILBERT_PACKED

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    for x in range(0, 256, 7):
        for y in range(0, 256, 5):
            st, d = 0, 0
            for i in range(7, -1, -1):
                key = st * 4 + ((x >> i) & 1) * 2 + ((y >> i) & 1)
                c = _HILBERT_PACKED[key]
                d, st = d * 4 + c // 4, c % 4
            assert d == xy2d(256, x, y)


def test_layout_faceoff_invariants(spark):
    """Same rows under every layout; the y-sorted layout cannot prune
    on x; curve layouts must prune the ~20%-wide probe heavily; and
    Hilbert's probe fragmentation must not exceed Morton's (unit-step
    locality)."""
    from duckdb_title_mapper_spark.workload import all_queries

    rows = {r.layout: r for r in all_queries()[
        "x_layout_skipping_faceoff"].spark_fn(spark, SF).collect()}
    assert set(rows) == {"linear_y", "morton", "hilbert"}
    totals = {r.rows_total for r in rows.values()}
    assert len(totals) == 1
    assert rows["linear_y"].skip_bp == 0
    assert rows["morton"].skip_bp > 5000
    assert rows["hilbert"].skip_bp > 5000
    assert rows["hilbert"].probe_runs <= rows["morton"].probe_runs


def test_kmv_set_ops_python_recompute(spark):
    """Theta, rho-based intersection estimate, and exact truths must
    all equal a from-scratch Python KMV over the same hashes."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    row = all_queries()["x_kmv_set_ops"].spark_fn(spark, SF).collect()[0]
    texts = duckdb.sql(
        f"SELECT DISTINCT text, lang FROM '{SF}/documents.parquet' "
        "WHERE lang IN ('en','de','fr')"
    ).fetchall()
    a = {_h32(t) for t, lg in texts if lg in ("en", "de")}
    b = {_h32(t) for t, lg in texts if lg in ("en", "fr")}
    u = sorted(a | b)
    k = row.k
    theta = u[k - 1]
    est_union = (k - 1) * 4294967296 // theta
    rho = sum(1 for h in u[:k] if h in a and h in b)
    assert row.theta == theta
    assert row.est_union == est_union
    assert row.true_union == len(u)
    assert row.true_inter == len(a & b)
    assert row.est_inter == rho * est_union // k


def test_phrase_search_python_recompute(spark):
    """Per-doc hit counts and first/last positions must equal a direct
    Python scan for the phrase 'merge join' (1-based positions)."""
    import re

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_phrase_search"].spark_fn(spark, SF).collect()
    got = {r.doc_id: (r.n_hits, r.first_pos, r.last_pos) for r in rows}
    want = {}
    for d, t in duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall():
        toks = re.findall(r"\w+", t.lower())
        hits = [
            i + 1
            for i in range(len(toks) - 1)
            if toks[i] == "merge" and toks[i + 1] == "join"
        ]
        if hits:
            want[d] = (len(hits), hits[0], hits[-1])
    assert got == want and got


def test_cdc_replay_python_recompute(spark):
    """Final state must be latest-wins by LSN with tombstoned keys
    dropped and correct per-key op counts."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_cdc_replay"].spark_fn(spark, SF).collect()
    got = {r.user_id: (r.last_lsn, r.last_type, r.n_ops, r.n_tombstones)
           for r in rows}
    log = {}
    for eid, uid, et in duckdb.sql(
        f"SELECT event_id, user_id, event_type "
        f"FROM '{SF}/events.parquet'"
    ).fetchall():
        log.setdefault(uid, []).append((eid, et))
    want = {}
    for uid, ops in log.items():
        ops.sort()
        last_lsn, last_type = ops[-1]
        if last_type == "error":
            continue  # tombstoned
        want[uid] = (
            last_lsn, last_type, len(ops),
            sum(1 for _, t in ops if t == "error"),
        )
    assert got == want and got


def test_ppjoin_complete_vs_naive(spark):
    """Prefix filtering must lose NOTHING: the PPJoin result must equal
    the naive all-pairs exact-Jaccard join (>= 1/2 on 3-gram shingle
    sets) — completeness is the theorem the operator sells."""
    import re

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_setsim_ppjoin"].spark_fn(spark, SF).collect()
    got = {(r.doc_a, r.doc_b): (r.inter_sz, r.sz_a, r.sz_b, r.jaccard_bp)
           for r in rows}
    shingles = {}
    for d, t in duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall():
        toks = re.findall(r"\w+", t.lower())
        shingles[d] = {
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        }
    want = {}
    ids = sorted(shingles)
    for i, da in enumerate(ids):
        for db in ids[i + 1:]:
            a, b = shingles[da], shingles[db]
            if not a or not b:
                continue
            inter = len(a & b)
            if 3 * inter >= len(a) + len(b):
                want[(da, db)] = (
                    inter, len(a), len(b),
                    inter * 10000 // (len(a) + len(b) - inter),
                )
    assert got == want and got


def test_quantile_hist_sketch_python_recompute(spark):
    """Estimates, exact-rank values, and the merged histogram math
    must equal a from-scratch Python recompute; estimator error is
    bounded by one bucket width (factor 2)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_quantile_hist_sketch"].spark_fn(
        spark, SF
    ).collect()
    cents = sorted(
        c for (c,) in duckdb.sql(
            f"SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
            f"AS BIGINT) FROM '{SF}/orders.parquet'"
        ).fetchall()
    )
    hist = {}
    for c in cents:
        b = c.bit_length() - 1
        hist[b] = hist.get(b, 0) + 1
    nt = len(cents)
    assert {r.p for r in rows} == {50, 90, 99}
    for r in rows:
        target = (r.p * nt + 99) // 100
        exact = cents[target - 1]
        cum = 0
        for b in sorted(hist):
            if cum + hist[b] >= target:
                lo = 1 << b
                est = lo + lo * (target - cum) // hist[b]
                break
            cum += hist[b]
        assert r.n_total == nt
        assert r.exact_val == exact and r.est_val == est
        assert r.err_bp == abs(est - exact) * 10000 // exact
        assert est <= 2 * exact and exact <= 2 * est


def test_round7_join_plan_shapes(spark):
    """No round-7 operator may fall back to a cartesian /
    broadcast-nested-loop join: linkage, PPJoin, phrase search, and the
    skyline all have equi keys that must reach the join operator."""
    from duckdb_title_mapper_spark.workload import core_queries

    for name in ("x_record_linkage_fs", "x_setsim_ppjoin",
                 "x_phrase_search", "x_skyline_pareto",
                 "x_layout_skipping_faceoff"):
        df = core_queries()[name].spark_fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name != "x_layout_skipping_faceoff":
            # the faceoff's BNLJs are 1-row scalar-relation cross joins
            # (global bounds m, probe p) — the sanctioned scalar-attach
            # shape, same as x_zorder_layout; all data-data joins above
            # must stay hash/merge
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_dpp_fires_and_localrelation_negative_control(spark):
    """The parquet-dim star join must carry a dynamicpruningexpression
    in the fact scan's PartitionFilters (runtime partition pruning);
    the SAME join against a VALUES dim must NOT — constant folding
    strips the dim filter, so PartitionPruning sees no selective
    predicate and stays out.  Both plans aggregate to identical
    results."""
    from duckdb_title_mapper_spark.workload import core_queries

    df = core_queries()["x_dpp_star_join"].spark_fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    pos = {(r.o_orderpriority, r.n_orders) for r in df.collect()}
    # negative control reuses the views the query just staged — a
    # second stage would overwrite the dim files under the live plan
    neg = spark.sql(
        """SELECT f.o_orderpriority, count(*) AS n
        FROM dpp_fact f
        JOIN (SELECT * FROM (VALUES ('F', 'final'), ('O', 'open'),
              ('P', 'pending')) AS d(status, label)) d
          ON d.status = f.o_orderstatus
        WHERE d.label = 'final'
        GROUP BY f.o_orderpriority"""
    )
    neg_plan = neg._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" not in neg_plan
    negr = {(r.o_orderpriority, r.n) for r in neg.collect()}
    assert pos == negr


def test_stream_kmv_equals_batch_bottom_k(spark):
    """The MIN-merged streaming store must equal the batch bottom-64
    over all user hashes — and re-merging the store with itself is a
    no-op (idempotence)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["stream_kmv_minset"].spark_fn(
        spark, SF_DIR
    ).collect()
    got = [(r.rank, r.hv) for r in sorted(rows, key=lambda r: r.rank)]
    users = {
        u for (u,) in duckdb.sql(
            f"SELECT DISTINCT user_id FROM '{SF_DIR}/events.parquet'"
        ).fetchall()
    }
    hs = sorted({_h32(str(u)) for u in users})[:64]
    want = [(i + 1, h) for i, h in enumerate(hs)]
    assert got == want
    merged = sorted(set(h for _, h in got) | set(hs))[:64]
    assert [h for _, h in got] == merged


def test_bigram_greedy_decode_python_recompute(spark):
    """The 21-token greedy decode must equal a from-scratch Python
    bigram train + argmax rollout (count-desc, lexicographic ties)."""
    import re
    from collections import Counter

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_bigram_greedy_decode"].spark_fn(
        spark, SF
    ).collect()
    got = [r.token for r in sorted(rows, key=lambda r: r.step)]
    uni, bi = Counter(), Counter()
    for (t,) in duckdb.sql(
        f"SELECT text FROM '{SF}/documents.parquet'"
    ).fetchall():
        toks = re.findall(r"\w+", t.lower())
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    seed = min(uni, key=lambda w: (-uni[w], w))
    best = {}
    for (w1, w2), c in bi.items():
        cur = best.get(w1)
        if cur is None or (-c, w2) < (-cur[0], cur[1]):
            best[w1] = (c, w2)
    path = [seed]
    for _ in range(20):
        path.append(best[path[-1]][1])
    assert got == path


def test_soundex_matches_spark_builtin_and_canonical_vectors(spark):
    """The portable SQL soundex must agree with Spark's independent
    built-in soundex() over the ENTIRE corpus vocabulary, and with the
    11 canonical published vectors."""
    from duckdb_title_mapper_spark.workload import (
        _soundex_blocks_sql,
        register_views,
    )

    register_views(spark, SF, "documents")
    # direct per-word comparison (simpler than surgery on the block SQL)
    rows = spark.sql(
        """WITH vocab AS (
          SELECT DISTINCT explode(regexp_extract_all(lower(text),
                 '\\\\w+', 0)) AS word FROM documents),
        mine AS (
          SELECT word,
             upper(substr(word, 1, 1))
               || coalesce(max(CASE WHEN drn = 1 THEN code END), '0')
               || coalesce(max(CASE WHEN drn = 2 THEN code END), '0')
               || coalesce(max(CASE WHEN drn = 3 THEN code END), '0')
               AS sdx
          FROM (
            SELECT word, code,
                   CAST(row_number() OVER (PARTITION BY word
                        ORDER BY i) AS BIGINT) AS drn
            FROM (
              SELECT word, i, code FROM (
                SELECT word, i, code,
                       lag(code) OVER (PARTITION BY word ORDER BY i)
                         AS prev
                FROM (
                  SELECT word, i,
                         CASE WHEN ch IN ('h', 'w') THEN NULL
                              WHEN translate(ch, 'bfpvcgjkqszxdtlmnr',
                                   '111122222222334556')
                                   IN ('1','2','3','4','5','6')
                              THEN translate(ch, 'bfpvcgjkqszxdtlmnr',
                                   '111122222222334556')
                              ELSE '0' END AS code
                  FROM (SELECT word, i, substr(word, i, 1) AS ch
                        FROM (SELECT word,
                              explode(sequence(1, length(word))) AS i
                              FROM vocab WHERE length(word) >= 1) a) b) c
                WHERE code IS NOT NULL) d
              WHERE prev IS NULL OR code <> prev OR code = '0') kept
            WHERE code <> '0' AND i > 1) e
          GROUP BY word)
        SELECT v.word, m.sdx, soundex(v.word) AS builtin
        FROM vocab v JOIN mine m ON m.word = v.word
        WHERE m.sdx <> soundex(v.word)"""
    ).collect()
    assert rows == [], rows

    vec = {"robert": "R163", "rupert": "R163", "ashcraft": "A261",
           "ashcroft": "A261", "tymczak": "T522", "pfister": "P236",
           "honeyman": "H555", "washington": "W252", "lee": "L000",
           "gutierrez": "G362", "jackson": "J250"}
    got = {r.w: r.sx for r in spark.sql(
        "SELECT col0 AS w, soundex(col0) AS sx FROM (VALUES "
        + ", ".join(f"('{w}')" for w in vec) + ") v(col0)").collect()}
    assert got == vec


def test_encoding_advisor_python_recompute(spark):
    """Distinct/run counts, bit widths, milli-bit costs, and the
    argmin recommendation must equal a from-scratch Python pass in
    the same storage order."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_encoding_advisor"].spark_fn(
        spark, SF
    ).collect()
    got = {r.col: r for r in rows}
    data = duckdb.sql(
        f"SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey "
        f"FROM '{SF}/orders.parquet' ORDER BY o_orderkey"
    ).fetchall()
    cols = {
        "o_orderstatus": ([r[1] for r in data], 8),
        "o_orderpriority": ([r[2] for r in data], 120),
        "o_custkey": ([str(r[3]) for r in data], 64),
        "o_orderkey": ([str(r[0]) for r in data], 64),
    }
    for name, (vals, plain) in cols.items():
        n = len(vals)
        nd = len(set(vals))
        runs = 1 + sum(1 for a, b in zip(vals, vals[1:]) if a != b)
        dict_bits = (nd - 1).bit_length() if nd > 1 else 1
        rle = runs * (dict_bits + 32) * 1000 // n
        dct = dict_bits * 1000
        pl = plain * 1000
        rec = ("rle" if rle <= dct and rle <= pl
               else "dict" if dct <= pl else "plain")
        r = got[name]
        assert (r.n_rows, r.n_distinct, r.n_runs) == (n, nd, runs), name
        assert (r.plain_bits, r.dict_bits) == (plain, dict_bits), name
        assert (r.rle_millibits_per_val, r.dict_millibits_per_val,
                r.plain_millibits_per_val) == (rle, dct, pl), name
        assert r.recommended == rec, name


def test_compaction_planner_python_recompute(spark):
    """File stripes, cumulative-boundary bin assignment, and the
    before/after small-file stats must equal a from-scratch Python
    pass over the same orders."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_compaction_planner"].spark_fn(
        spark, SF
    ).collect()
    got = {r.part: r for r in rows}
    data = duckdb.sql(
        f"SELECT o_orderpriority, o_orderkey, o_orderstatus "
        f"FROM '{SF}/orders.parquet'"
    ).fetchall()
    parts = {}
    for pr, ok, st in data:
        parts.setdefault(pr, {}).setdefault(ok // 256, []).append(st)
    assert set(got) == set(parts)
    for pr, files in parts.items():
        sizes = [
            40 * len(sts) + sum(len(s) for s in sts)
            for _, sts in sorted(files.items())
        ]
        bins = {}
        cum = 0
        for b in sizes:
            bins.setdefault(cum // 16384, []).append(b)
            cum += b
        r = got[pr]
        assert r.n_files == len(sizes)
        assert r.total_bytes == sum(sizes)
        assert r.n_small_files == sum(1 for b in sizes if b < 8192)
        assert r.n_bins == len(bins)
        bb = [sum(v) for v in bins.values()]
        assert (r.max_bin_bytes, r.min_bin_bytes) == (max(bb), min(bb))
        assert r.n_small_bins == sum(1 for b in bb if b < 8192)
        assert r.max_files_per_bin == max(len(v) for v in bins.values())


def test_interval_concurrency_python_recompute(spark):
    """Peak overlap and first attainment time must equal a direct
    sweep over (+1 at s, -1 at s+900) with starts-before-ends ties."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_interval_concurrency"].spark_fn(
        spark, SF
    ).collect()
    got = {r.event_type: r for r in rows}
    data = duckdb.sql(
        f"SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT), event_id "
        f"FROM '{SF}/events.parquet'"
    ).fetchall()
    by_type = {}
    for et, s, eid in data:
        by_type.setdefault(et, []).append((s, eid))
    assert set(got) == set(by_type)
    for et, ivs in by_type.items():
        pts = [(s, -1, eid) for s, eid in ivs] + [
            (s + 900, 1, eid) for s, eid in ivs
        ]  # delta stored NEGATED so ascending sort puts +1 first
        pts.sort()
        run = peak = 0
        first_t = None
        for t, nd, _ in pts:
            run -= nd
            if run > peak:
                peak, first_t = run, t
            elif run == peak and first_t is None:
                first_t = t
        r = got[et]
        assert r.n_intervals == len(ivs)
        assert (r.peak, r.first_peak_t) == (peak, first_t), et


def test_bitmap_index_exact_and_word_math(spark):
    """Bitmap AND/OR popcounts must certify equal to direct scan
    counts, and the word/bit totals must equal a Python recompute."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    r = all_queries()["x_bitmap_index"].spark_fn(spark, SF).collect()[0]
    assert r.and_exact == 1 and r.or_exact == 1
    assert r.bitmap_and == r.direct_and
    assert r.bitmap_or == r.direct_or
    data = duckdb.sql(
        f"SELECT o_orderstatus, o_orderpriority "
        f"FROM '{SF}/orders.parquet' ORDER BY o_orderkey"
    ).fetchall()
    n = len(data)
    assert r.n_rows == n
    assert r.n_words_total == (n + 61) // 62
    s_pos = [i for i, (st, _) in enumerate(data) if st == "F"]
    p_pos = [i for i, (_, pr) in enumerate(data) if pr == "1-URGENT"]
    assert r.status_set_bits == len(s_pos)
    assert r.prio_set_bits == len(p_pos)
    assert r.status_words == len({p // 62 for p in s_pos})
    assert r.prio_words == len({p // 62 for p in p_pos})
    assert r.direct_and == len(set(s_pos) & set(p_pos))
    assert r.direct_or == len(set(s_pos) | set(p_pos))


def test_merkle_manifest_python_recompute_and_sensitivity(spark):
    """Source and root digests must equal a from-scratch Python Merkle
    build, and flipping one byte of one doc must flip its source's
    digest and the root (descend-only-unequal-branches property)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_merkle_manifest"].spark_fn(
        spark, SF
    ).collect()
    data = duckdb.sql(
        f"SELECT source, doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall()

    def build(docs):
        chunks = {}
        for src, did, text in docs:
            h = hashlib.md5(f"{did}:{text}".encode()).hexdigest()
            chunks.setdefault(src, {}).setdefault(did // 64, []).append(h)
        srcs = {
            src: hashlib.md5(
                "".join(
                    hashlib.md5("".join(sorted(hs)).encode()).hexdigest()
                    for _, hs in sorted(
                        by_chunk.items(),
                        key=lambda kv: hashlib.md5(
                            "".join(sorted(kv[1])).encode()
                        ).hexdigest(),
                    )
                ).encode()
            ).hexdigest()
            for src, by_chunk in chunks.items()
        }
        root = hashlib.md5(
            "".join(sorted(srcs.values())).encode()
        ).hexdigest()
        return srcs, root

    srcs, root = build(data)
    for r in rows:
        assert r.source_digest == srcs[r.source], r.source
        assert r.root_digest == root
    mutated = [
        (s, d, t + "!") if i == 0 else (s, d, t)
        for i, (s, d, t) in enumerate(data)
    ]
    srcs2, root2 = build(mutated)
    changed_src = data[0][0]
    assert srcs2[changed_src] != srcs[changed_src]
    assert root2 != root
    assert all(
        srcs2[s] == srcs[s] for s in srcs if s != changed_src
    )


def test_label_propagation_python_recompute(spark):
    """Three synchronous rounds with most-frequent-neighbor-label /
    smallest-label ties must equal a direct Python simulation."""
    import duckdb
    from collections import Counter

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_label_propagation"].spark_fn(
        spark, SF
    ).collect()
    got = {r.community: (r.n_members, r.min_member, r.max_member)
           for r in rows}
    pairs = duckdb.sql(
        f"""SELECT DISTINCT a.l_partkey, b.l_partkey
            FROM '{SF}/lineitem.parquet' a
            JOIN '{SF}/lineitem.parquet' b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey"""
    ).fetchall()
    nbrs = {}
    for s, d in pairs:
        nbrs.setdefault(s, []).append(d)
        nbrs.setdefault(d, []).append(s)
    labels = {v: v for v in nbrs}
    for _ in range(3):
        new = {}
        for v, ns in nbrs.items():
            cnt = Counter(labels[u] for u in ns)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    comm = {}
    for v, l in labels.items():
        comm.setdefault(l, []).append(v)
    want = {l: (len(vs), min(vs), max(vs)) for l, vs in comm.items()}
    assert got == want


def _cdc_chunks(text: str):
    """Reference CDC: cut at 1-based pos p>1 where md5 of the 8-gram
    starting at p has (first 8 hex) % 64 == 0."""
    cuts = [1] + [
        p
        for p in range(2, max(len(text) - 6, 2))
        if _h32(text[p - 1 : p + 7]) % 64 == 0
    ]
    cuts.append(len(text) + 1)
    return [text[a - 1 : b - 1] for a, b in zip(cuts, cuts[1:])]


def test_cdc_chunking_python_recompute(spark):
    """Per-source and global chunk/dedup accounting must equal a
    from-scratch Python CDC pass."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_cdc_chunking"].spark_fn(spark, SF).collect()
    got = {r.source: r for r in rows}
    data = duckdb.sql(
        f"SELECT source, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    per_src, everything = {}, []
    for src, text in data:
        cs = _cdc_chunks(text)
        per_src.setdefault(src, []).extend(cs)
        everything.extend(cs)
    per_src["__ALL__"] = everything
    assert set(got) == set(per_src)
    for src, cs in per_src.items():
        r = got[src]
        assert r.n_chunks == len(cs), src
        assert r.n_distinct == len(set(cs)), src
        assert r.total_bytes == sum(len(c) for c in cs), src
        assert r.stored_bytes == sum(len(c) for c in set(cs)), src
        assert r.saved_bytes == r.total_bytes - r.stored_bytes


def test_cdc_resynchronizes_after_edit():
    """Inserting one char at the front of a long text must leave most
    chunk identities intact (the CDC robustness property; fixed-size
    blocking would shift every block)."""
    base = "".join(
        _h32(f"w{i}") .__format__("x") for i in range(400)
    )
    a, b = _cdc_chunks(base), _cdc_chunks("Z" + base)
    assert len(a) > 10
    shared = len(set(a) & set(b))
    assert shared >= len(a) - 2  # only the first chunk(s) may differ


def test_wordpiece_segment_python_recompute(spark):
    """Vocabulary build + greedy longest-match segmentation must equal
    a from-scratch Python pass; each segmentation must reconstruct its
    word and be piecewise-greedy."""
    import re
    from collections import Counter

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_wordpiece_segment"].spark_fn(
        spark, SF
    ).collect()
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF}/documents.parquet'"
        ).fetchall()
    ]
    wc = Counter(
        w
        for t in texts
        for w in re.findall(r"\w+", t.lower())
        if len(w) <= 12
    )
    chars = {c for w in wc for c in w}
    ng = Counter()
    for w, n in wc.items():
        for L in range(2, 7):
            for p in range(len(w) - L + 1):
                ng[w[p : p + L]] += n
    top = [
        p
        for p, _ in sorted(ng.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    ]
    vocab = chars | set(top)

    def seg(w):
        out, i = [], 0
        while i < len(w):
            for L in range(min(6, len(w) - i), 0, -1):
                if w[i : i + L] in vocab:
                    out.append(w[i : i + L])
                    i += L
                    break
        return out

    want = {
        w: (n, "|".join(seg(w)), len(seg(w)))
        for w, n in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    }
    got = {r.word: (r.n_occ, r.seg, r.n_pieces) for r in rows}
    assert got == want
    for r in rows:
        assert r.seg.replace("|", "") == r.word


def test_postinglist_bytes_python_recompute(spark):
    """Delta-gap varint/bitpack/plain byte costs per df-bucket must
    equal a from-scratch Python pass."""
    import re

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_postinglist_bytes"].spark_fn(
        spark, SF
    ).collect()
    got = {r.df_bucket: r for r in rows}
    data = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    post = {}
    for did, text in data:
        for tok in set(re.findall(r"\w+", text.lower())):
            post.setdefault(tok, set()).add(did)
    buckets = {}
    for tok, ids in post.items():
        ids = sorted(ids)
        gaps = [ids[0]] + [b - a for a, b in zip(ids, ids[1:])]
        bl = lambda x: max(x.bit_length(), 1)
        var = sum(1 + (bl(g) - 1) // 7 for g in gaps)
        bp = (max(bl(g) for g in gaps) * len(gaps) + 7) // 8
        b = buckets.setdefault(bl(len(ids)), [0, 0, 0, 0, 0, 0])
        b[0] += 1
        b[1] += len(ids)
        b[2] += var
        b[3] += bp
        b[4] += 8 * len(ids)
        b[5] += 1 if var <= bp else 0
    assert set(got) == set(buckets)
    for k, (nt, np_, var, bp, pl, wins) in buckets.items():
        r = got[k]
        assert (r.n_terms, r.n_postings, r.varint_bytes,
                r.bitpack_bytes, r.plain_bytes,
                r.n_varint_wins) == (nt, np_, var, bp, pl, wins)


def test_kcenter_coreset_python_recompute(spark):
    """Selection order and radius must equal a direct Gonzalez
    farthest-first pass (squared L2, ties to smallest vec_id)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_kcenter_coreset"].spark_fn(
        spark, SF
    ).collect()
    got = sorted((r.sel_round, r.vec_id) for r in rows)
    vecs = dict(
        duckdb.sql(
            f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet'"
        ).fetchall()
    )

    def l2(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (float(x) - float(y)) * (float(x) - float(y))
        return s

    dmin = {v: 1e300 for v in vecs}
    sel = []
    for r in range(1, 9):
        pick = max(dmin, key=lambda v: (dmin[v], -v))
        sel.append((r, pick))
        for v in vecs:
            d = l2(vecs[v], vecs[pick])
            if d < dmin[v]:
                dmin[v] = d
    assert got == sorted(sel)
    radius = max(dmin.values())
    from decimal import Decimal

    want = Decimal(repr(radius)).quantize(Decimal("1.000000000"))
    assert rows[0].radius_sq == want


def test_textrank_python_recompute(spark):
    """Window segmentation, edge building, 5 fixed-point pagerank
    rounds, and the per-doc argmax must equal a direct Python pass."""
    import re
    from collections import defaultdict

    import duckdb

    from duckdb_title_mapper_spark.operators.graph import PR_SCALE
    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_textrank_sentences"].spark_fn(
        spark, SF
    ).collect()
    got = {r.doc_id: (r.sentence_idx, r.rank_fp) for r in rows}
    data = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    toks = {}
    for did, text in data:
        ws = re.findall(r"\w+", text.lower())
        for i, w in enumerate(ws):
            toks.setdefault(did * 1000 + i // 12, set()).add(w)
    sids = sorted(toks)
    e = set()
    for i, a in enumerate(sids):
        for b in sids[i + 1:]:
            if a // 1000 != b // 1000:
                continue
            if len(toks[a] & toks[b]) >= 2:
                e.add((a, b))
                e.add((b, a))
    adj_out = defaultdict(list)
    for a, b in e:
        adj_out[a].append(b)
    verts = sorted({v for ab in e for v in ab})
    n = len(verts)
    r = {v: PR_SCALE // n for v in verts}
    for _ in range(5):
        s = defaultdict(int)
        for u in verts:
            c = r[u] // len(adj_out[u])
            for v in adj_out[u]:
                s[v] += c
        r = {v: 3 * PR_SCALE // (20 * n) + 17 * s[v] // 20
             for v in verts}
    best = {}
    for v in verts:
        d = v // 1000
        if d not in best or (r[v], -v) > (r[best[d]], -best[d]):
            best[d] = v
    want = {d: (v % 1000, r[v]) for d, v in best.items()}
    assert got == want


def test_cusum_changepoint_python_recompute(spark):
    """Integer CUSUM (terms n*c - total) and the argmax-|CUSUM| change
    point must equal a direct Python pass; the statistic must return
    to 0 at the last hour by construction."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_cusum_changepoint"].spark_fn(
        spark, SF
    ).collect()
    got = {r.event_type: r for r in rows}
    data = duckdb.sql(
        f"SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 "
        f"FROM '{SF}/events.parquet'"
    ).fetchall()
    hourly = {}
    for et, h in data:
        hourly.setdefault(et, {}).setdefault(h, 0)
        hourly[et][h] += 1
    for et, hs in hourly.items():
        items = sorted(hs.items())
        n, total = len(items), sum(c for _, c in items)
        run, best = 0, None
        for h, c in items:
            run += n * c - total
            if best is None or abs(run) > best[0]:
                best = (abs(run), h, 1 if run >= 0 else -1)
        assert run == 0
        r = got[et]
        assert (r.n_hours, r.total_events) == (n, total)
        assert (r.max_abs_cusum, r.cp_hour_s, r.direction) == (
            best[0], best[1] * 3600, best[2])


def test_gini_split_python_recompute(spark):
    """The chosen threshold must equal an exhaustive Python scan with
    the same integer-truncated score, and must beat (or tie, earlier
    bucket) every other candidate."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    r = all_queries()["x_gini_split"].spark_fn(spark, SF).collect()[0]
    data = duckdb.sql(
        f"SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        f"AS BIGINT) // 100000, o_orderstatus "
        f"FROM '{SF}/orders.parquet'"
    ).fetchall()
    byb = {}
    for b, s in data:
        d = byb.setdefault(b, {"F": 0, "O": 0, "P": 0})
        d[s] += 1
    tot = {c: sum(d[c] for d in byb.values()) for c in "FOP"}
    cum = {c: 0 for c in "FOP"}
    cands = []
    for b in sorted(byb):
        for c in "FOP":
            cum[c] += byb[b][c]
        nl = sum(cum.values())
        nr = sum(tot.values()) - nl
        if nr == 0:
            continue
        sl = sum(v * v for v in cum.values()) * 1000000 // nl
        sr = (sum((tot[c] - cum[c]) ** 2 for c in "FOP")
              * 1000000 // nr)
        cands.append((sl + sr, -b, b, nl, nr, dict(cum)))
    best = max(cands)
    assert r.threshold_bucket == best[2]
    assert (r.n_left, r.n_right) == (best[3], best[4])
    assert (r.left_f, r.left_o, r.left_p) == (
        best[5]["F"], best[5]["O"], best[5]["P"])
    assert r.score_s6 == best[0]


def test_attribution_touch_python_recompute(spark):
    """First/last-touch counts and integer linear millicredits per
    channel must equal a direct Python pass over the event log."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_attribution_touch"].spark_fn(
        spark, SF
    ).collect()
    got = {r.channel: (r.n_first_touch, r.n_last_touch,
                       r.n_touch_events, r.linear_millicredits)
           for r in rows}
    data = duckdb.sql(
        f"SELECT user_id, event_id, event_type, epoch_us(ts) "
        f"FROM '{SF}/events.parquet'"
    ).fetchall()
    by_user = {}
    for uid, eid, et, us in data:
        by_user.setdefault(uid, []).append((eid, et, us))
    agg = {}
    for uid, evs in by_user.items():
        for ceid, cet, cus in evs:
            if cet != "purchase":
                continue
            touches = [
                (tus, teid, tet)
                for teid, tet, tus in evs
                if tet != "purchase"
                and cus - 604800000000 <= tus < cus
            ]
            if not touches:
                continue
            touches.sort()
            n = len(touches)
            for i, (tus, teid, tet) in enumerate(touches):
                a = agg.setdefault(tet, [0, 0, 0, 0])
                a[2] += 1
                a[3] += 1000000 // n
                if i == 0:
                    a[0] += 1
                if i == n - 1:
                    a[1] += 1
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_view_selection_greedy_python_recompute(spark):
    """Cuboid sizes and all three HRU greedy picks must equal a direct
    Python run of the algorithm."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_view_selection_greedy"].spark_fn(
        spark, SF
    ).collect()
    got = sorted((r.pick_round, r.mask, r.dims, r.view_rows, r.benefit)
                 for r in rows)
    data = duckdb.sql(
        f"SELECT o_orderstatus, o_orderpriority, "
        f"year(o_orderdate) * 100 + month(o_orderdate) "
        f"FROM '{SF}/orders.parquet'"
    ).fetchall()
    sizes = {}
    for mask in range(8):
        combos = {
            (s if mask & 1 else None,
             p if mask & 2 else None,
             m if mask & 4 else None)
            for s, p, m in data
        }
        sizes[mask] = len(combos)
    cost = {w: sizes[7] for w in range(8)}
    taken = set()
    want = []
    for r in range(1, 4):
        best = None
        for v in range(7):
            if v in taken:
                continue
            ben = sum(
                max(0, cost[w] - sizes[v])
                for w in range(8)
                if (v & w) == w
            )
            if best is None or (ben, -v) > (best[0], -best[1]):
                best = (ben, v)
        ben, v = best
        taken.add(v)
        for w in range(8):
            if (v & w) == w:
                cost[w] = min(cost[w], sizes[v])
        dims = ("M" if v & 4 else "") + ("P" if v & 2 else "") + (
            "S" if v & 1 else "")
        want.append((r, v, dims, sizes[v], ben))
    assert got == sorted(want)


def test_colbert_maxsim_python_recompute(spark):
    """MaxSim scores (nano-unit quantized per-token maxes) and the
    top-3 ranking must equal a direct Python pass."""
    import math
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_colbert_maxsim"].spark_fn(
        spark, SF
    ).collect()
    got = [(r.rnk, r.label, r.maxsim_s9, r.n_query_tokens)
           for r in sorted(rows, key=lambda r: r.rnk)]
    data = duckdb.sql(
        f"SELECT vec_id, label, embedding "
        f"FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    qs = [(v, e) for v, _, e in data if v < 4]
    scores = {}
    labels = sorted({l for _, l, _ in data})
    for lab in labels:
        docs = [e for _, l, e in data if l == lab]
        total = 0
        for _, qv in sorted(qs):
            qn = math.sqrt(sum(float(x) * float(x) for x in qv))
            best = None
            for dv in docs:
                dn = math.sqrt(sum(float(x) * float(x) for x in dv))
                s = 0.0
                for x, y in zip(qv, dv):
                    s += float(x) * float(y)
                c = 0.0 if qn * dn == 0 else s / (qn * dn)
                best = c if best is None or c > best else best
            total += int(
                Decimal(repr(best)).quantize(Decimal("1.000000000"))
                * 1000000000
            )
        scores[lab] = total
    want = sorted(
        ((lab, sc) for lab, sc in scores.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:3]
    assert got == [
        (i + 1, lab, sc, len(qs)) for i, (lab, sc) in enumerate(want)
    ]


def test_dbscan_grid_python_recompute(spark):
    """Core cells, 8-neighborhood components, and cluster summaries
    must equal a from-scratch Python flood fill."""
    import math

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_dbscan_grid"].spark_fn(spark, SF).collect()
    got = sorted((r.cluster, r.n_cells, r.n_pts, r.min_cx, r.min_cy)
                 for r in rows)
    data = duckdb.sql(
        f"SELECT embedding[1], embedding[2] "
        f"FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    cells = {}
    for x, y in data:
        c = (math.floor(float(x) * 32), math.floor(float(y) * 32))
        cells[c] = cells.get(c, 0) + 1
    core = {c: n for c, n in cells.items() if n >= 3}
    cid = {c: (c[0] + 100) * 1000 + (c[1] + 100) for c in core}
    seen, want = set(), []
    for c in sorted(core):
        if c in seen:
            continue
        stack, comp = [c], []
        seen.add(c)
        while stack:
            cur = stack.pop()
            comp.append(cur)
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cur[0] + dx, cur[1] + dy)
                    if nb in core and nb not in seen:
                        seen.add(nb)
                        stack.append(nb)
        want.append((
            min(cid[m] for m in comp), len(comp),
            sum(core[m] for m in comp),
            min(m[0] for m in comp), min(m[1] for m in comp),
        ))
    assert got == sorted(want)


def test_join_order_dp_python_recompute(spark):
    """The DP's winning order/est/cost must equal an exhaustive Python
    enumeration of all left-deep orders under the same cost model."""
    from itertools import permutations

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    r = all_queries()["x_join_order_dp"].spark_fn(
        spark, SF
    ).collect()[0]
    q = lambda sql: duckdb.sql(sql).fetchone()[0]
    rows = {
        1: q(f"SELECT count(*) FROM '{SF}/nation.parquet'"),
        2: q(f"SELECT count(*) FROM '{SF}/customer.parquet'"),
        4: q(f"SELECT count(*) FROM '{SF}/orders.parquet'"),
        8: q(f"SELECT count(*) FROM '{SF}/lineitem.parquet'"),
    }
    names = {1: "N", 2: "C", 4: "O", 8: "L"}
    nd = {
        (1, 2): max(
            q(f"SELECT count(DISTINCT n_nationkey) FROM '{SF}/nation.parquet'"),
            q(f"SELECT count(DISTINCT c_nationkey) FROM '{SF}/customer.parquet'"),
        ),
        (2, 4): max(
            q(f"SELECT count(DISTINCT c_custkey) FROM '{SF}/customer.parquet'"),
            q(f"SELECT count(DISTINCT o_custkey) FROM '{SF}/orders.parquet'"),
        ),
        (4, 8): max(
            q(f"SELECT count(DISTINCT o_orderkey) FROM '{SF}/orders.parquet'"),
            q(f"SELECT count(DISTINCT l_orderkey) FROM '{SF}/lineitem.parquet'"),
        ),
    }
    edges = {**nd, **{(b, a): v for (a, b), v in nd.items()}}
    best = None
    for perm in permutations([1, 2, 4, 8]):
        mask, est, cost, ordr = perm[0], rows[perm[0]], 0, names[perm[0]]
        for b in perm[1:]:
            divs = [v for (x, y), v in edges.items()
                    if x == b and (mask & y)]
            d = 1
            if len(divs) == 1:
                d = divs[0]
            elif len(divs) == 2:
                d = divs[0] * divs[1]
            est = est * rows[b] // d
            cost += est
            mask |= b
            ordr += "-" + names[b]
        if best is None or (cost, ordr) < (best[0], best[1]):
            best = (cost, ordr, est)
    assert (r.est_cost, r.best_order, r.est_rows) == best
    assert r.mask == 15


def test_symspell_correct_python_recompute(spark):
    """Delete-key candidate generation + levenshtein ranking must
    equal a from-scratch Python SymSpell, and every probe's true
    source word must appear among its candidates (dist <= 1 => the
    1-delete index cannot miss it)."""
    import re
    from collections import Counter

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    rows = all_queries()["x_symspell_correct"].spark_fn(
        spark, SF
    ).collect()
    got = sorted((r.probe, r.rnk, r.correction, r.dist, r.n_occ)
                 for r in rows)
    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM '{SF}/documents.parquet'").fetchall()]
    wc = Counter(w for t in texts for w in re.findall(r"\w+", t.lower()))

    def dels(w):
        return {w} | {w[:i] + w[i + 1:] for i in range(len(w))}

    vidx = {}
    for w in wc:
        for k in dels(w):
            vidx.setdefault(k, set()).add(w)
    probes = [w[:1] + w[2:] for w, _ in sorted(
        ((w, c) for w, c in wc.items() if len(w) >= 4),
        key=lambda kv: (-kv[1], kv[0]))[:10]]
    want = []
    for p in set(probes):
        cands = set()
        for k in dels(p):
            cands |= vidx.get(k, set())
        scored = sorted(
            ((lev(p, w), -wc[w], w) for w in cands if lev(p, w) <= 2))
        for i, (d, negn, w) in enumerate(scored[:3], 1):
            want.append((p, i, w, d, -negn))
    assert got == sorted(want)


def test_graph_feature_prop_python_recompute(spark):
    """Two rounds of integer mean aggregation over neighbors must
    equal a direct Python pass."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_graph_feature_prop"].spark_fn(
        spark, SF
    ).collect()
    pairs = duckdb.sql(f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{SF}/lineitem.parquet' a JOIN '{SF}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey""").fetchall()
    price = dict(duckdb.sql(
        f"SELECT p_partkey, CAST(CAST(p_retailprice AS DECIMAL(18,2))"
        f" * 100 AS BIGINT) FROM '{SF}/part.parquet'").fetchall())
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, []).append(b)
        nbr.setdefault(b, []).append(a)
    h = {v: price[v] for v in nbr}
    for _ in range(2):
        h = {v: sum(h[u] for u in ns) // len(ns)
             for v, ns in nbr.items()}
    want = sorted(
        ((v, len(nbr[v]), price[v], h[v]) for v in nbr),
        key=lambda t: (-t[3], t[0]),
    )[:20]
    got = [(r.node, r.deg, r.feat0_cents, r.feat2_cents)
           for r in sorted(rows, key=lambda r: (-r.feat2_cents, r.node))]
    assert got == want


def test_auc_exact_python_recompute(spark):
    """The doubled-U statistic and micro-unit AUC must equal a direct
    tie-aware Mann-Whitney computation (cross-checked two ways: rank
    sum AND pairwise comparison count)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    r = all_queries()["x_auc_exact"].spark_fn(spark, SF).collect()[0]
    data = duckdb.sql(
        f"SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END "
        f"FROM '{SF}/documents.parquet'"
    ).fetchall()
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    # pairwise definition: 2U = #(p>n)*2 + #(p==n)
    u2 = sum(2 * (p > n) + (p == n) for p in pos for n in neg)
    assert (r.np, r.nn) == (len(pos), len(neg))
    assert r.u_x2 == u2
    assert r.auc_s6 == u2 * 500000 // (len(pos) * len(neg))
    assert 0 <= r.auc_s6 <= 1000000


def test_score_calibration_python_recompute(spark):
    """Decile banding and per-bin rates must equal a direct pass, and
    bin counts must differ by at most 1 (equi-count property)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_score_calibration"].spark_fn(
        spark, SF
    ).collect()
    got = {r.bin: r for r in rows}
    data = duckdb.sql(
        f"SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END, "
        f"doc_id FROM '{SF}/documents.parquet' ORDER BY n_chars, doc_id"
    ).fetchall()
    n = len(data)
    bins = {}
    for i, (s, y, _) in enumerate(data):
        bins.setdefault(i * 10 // n, []).append((s, y))
    assert set(got) == set(bins)
    base = sum(y for _, y, _ in data) * 1000000 // n
    sizes = []
    for b, members in bins.items():
        r = got[b]
        sizes.append(len(members))
        assert r.n == len(members)
        assert r.n_pos == sum(y for _, y in members)
        assert (r.score_min, r.score_max) == (
            min(s for s, _ in members), max(s for s, _ in members))
        assert r.rate_s6 == r.n_pos * 1000000 // r.n
        assert r.base_rate_s6 == base
    assert max(sizes) - min(sizes) <= 1


def test_stump_confusion_python_recompute(spark):
    """Confusion cells and accuracy must equal applying the
    Python-recomputed best stump to every row."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_stump_confusion"].spark_fn(
        spark, SF
    ).collect()
    got = sorted((r.actual, r.predicted, r.n) for r in rows)
    acc = {r.accuracy_s6 for r in rows}
    assert len(acc) == 1
    data = duckdb.sql(
        f"SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        f"AS BIGINT) // 100000, o_orderstatus "
        f"FROM '{SF}/orders.parquet'"
    ).fetchall()
    byb = {}
    for b, s in data:
        d = byb.setdefault(b, {"F": 0, "O": 0, "P": 0})
        d[s] += 1
    tot = {c: sum(d[c] for d in byb.values()) for c in "FOP"}
    cum = {c: 0 for c in "FOP"}
    cands = []
    for b in sorted(byb):
        for c in "FOP":
            cum[c] += byb[b][c]
        nl, nr = sum(cum.values()), sum(tot.values()) - sum(cum.values())
        if nr == 0:
            continue
        score = (sum(v * v for v in cum.values()) * 1000000 // nl
                 + sum((tot[c] - cum[c]) ** 2 for c in "FOP")
                 * 1000000 // nr)
        maj = lambda d: ("F" if d["F"] >= d["O"] and d["F"] >= d["P"]
                         else "O" if d["O"] >= d["P"] else "P")
        cands.append((score, -b, b, maj(dict(cum)),
                      maj({c: tot[c] - cum[c] for c in "FOP"})))
    _, _, thr, lm, rm = max(cands)
    cells = {}
    correct = 0
    for b, s in data:
        p = lm if b <= thr else rm
        cells[(s, p)] = cells.get((s, p), 0) + 1
        correct += s == p
    assert got == sorted((a, p, n) for (a, p), n in cells.items())
    assert acc == {correct * 1000000 // len(data)}


def test_bfs_levels_python_recompute(spark):
    """Four-round BFS level histogram must equal a direct Python BFS
    from the smallest vertex (999 = unreached)."""
    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_bfs_levels"].spark_fn(spark, SF).collect()
    got = {r.level: r.n_nodes for r in rows}
    pairs = duckdb.sql(f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{SF}/lineitem.parquet' a JOIN '{SF}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey""").fetchall()
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    seed = min(nbr)
    dist = {v: (0 if v == seed else 999) for v in nbr}
    for _ in range(4):
        dist = {
            v: min(dist[v],
                   1 + min((dist[u] for u in nbr[v]), default=998))
            for v in nbr
        }
    want = {}
    for v, d in dist.items():
        want[d] = want.get(d, 0) + 1
    assert got == want


def test_cms_topk_precision_python_recompute(spark):
    """Sketch-only estimates, ranking, and overestimates must equal a
    from-scratch CM build, and every estimate must be >= truth."""
    import re
    from collections import Counter

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_cms_topk_precision"].spark_fn(
        spark, SF
    ).collect()
    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM '{SF}/documents.parquet'").fetchall()]
    tc = Counter(w for t in texts for w in re.findall(r"\w+", t.lower()))
    d, w = 4, 64
    sketch = {}
    for term, n in tc.items():
        for r in range(d):
            col = _h32(f"{r}:{term}") % w
            sketch[(r, col)] = sketch.get((r, col), 0) + n
    est = {
        term: min(sketch[(r, _h32(f"{r}:{term}") % w)] for r in range(d))
        for term in tc
    }
    est_rank = sorted(est.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    true_top = {t for t, _ in sorted(
        tc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]}
    want = [
        (i + 1, term, e, tc[term], e - tc[term],
         1 if term in true_top else 0)
        for i, (term, e) in enumerate(est_rank)
    ]
    got = [(r.est_rank, r.term, r.est_n, r.true_n, r.overestimate,
            r.in_true_top) for r in sorted(rows, key=lambda r: r.est_rank)]
    assert got == want
    assert all(r.overestimate >= 0 for r in rows)


def test_twap_python_recompute(spark):
    """Step-interpolated integer TWAP must equal a direct Python pass
    (cents quantized per row before any cross-row arithmetic)."""
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_twap"].spark_fn(spark, SF).collect()
    got = {r.event_type: (r.twap_cents, r.total_secs, r.n_segments)
           for r in rows}
    data = duckdb.sql(
        f"SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT), "
        f"event_id, value FROM '{SF}/events.parquet'"
    ).fetchall()
    by_type = {}
    for et, s, eid, v in data:
        cents = int(Decimal(repr(v)).quantize(Decimal("0.01")) * 100)
        by_type.setdefault(et, []).append((s, eid, cents))
    want = {}
    for et, obs in by_type.items():
        obs.sort()
        num = den = nseg = 0
        for (s, _, c), (s2, _, _) in zip(obs, obs[1:]):
            dt = s2 - s
            if dt > 0:
                num += c * dt
                den += dt
                nseg += 1
        want[et] = (num // den, den, nseg)
    assert got == want


def test_mad_outliers_python_recompute(spark):
    """Lower-median, MAD, and outlier counts must equal a direct
    Python pass with the same deterministic rank selection."""
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_mad_outliers"].spark_fn(spark, SF).collect()
    got = {r.event_type: (r.n_points, r.med_cents, r.mad_cents,
                          r.n_outliers, r.max_outlier_adev)
           for r in rows}
    data = duckdb.sql(
        f"SELECT event_type, event_id, value "
        f"FROM '{SF}/events.parquet'"
    ).fetchall()
    by_type = {}
    for et, eid, v in data:
        cents = int(Decimal(repr(v)).quantize(Decimal("0.01")) * 100)
        by_type.setdefault(et, []).append((cents, eid))

    def lower_median(vals):  # rank floor((n+1)/2) over (v, eid) order
        vals = sorted(vals)
        n = len(vals)
        return vals[(n + 1) // 2 - 1][0]

    for et, vs in by_type.items():
        med = lower_median(vs)
        adevs = [(abs(c - med), eid) for c, eid in vs]
        mad = lower_median(adevs)
        outl = [a for a, _ in adevs if a > 3 * mad]
        assert got[et] == (
            len(vs), med, mad, len(outl), max(outl, default=0)), et


def test_benford_audit_python_recompute(spark):
    """Digit histogram and per-mille deviations must equal a direct
    pass; digits must cover exactly the observed set."""
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_benford_audit"].spark_fn(spark, SF).collect()
    got = {r.d1: r for r in rows}
    data = duckdb.sql(
        f"SELECT o_totalprice FROM '{SF}/orders.parquet'"
    ).fetchall()
    exp = {i + 1: p for i, p in enumerate(
        [301, 176, 125, 97, 79, 67, 58, 51, 46])}
    counts = {}
    for (v,) in data:
        cents = int(Decimal(repr(v)).quantize(Decimal("0.01")) * 100)
        d = int(str(cents)[0])
        counts[d] = counts.get(d, 0) + 1
    n = sum(counts.values())
    assert set(got) == set(counts)
    for d, c in counts.items():
        r = got[d]
        assert r.n_obs == c
        assert r.obs_permille == c * 1000 // n
        assert r.benford_permille == exp.get(d, 0)
        assert r.abs_dev_permille == abs(c * 1000 // n - exp.get(d, 0))


def test_fk_discovery_finds_declared_edges(spark):
    """Every DECLARED FK edge must surface as a full-containment
    candidate, and every reported containment must equal a Python
    recompute over the distinct value sets."""
    import duckdb

    from duckdb_title_mapper_spark.workload import (
        _FK_EDGES, _IND_COLUMNS, all_queries,
    )

    rows = all_queries()["x_fk_discovery"].spark_fn(spark, SF).collect()
    got = {(r.child_col, r.parent_col): r for r in rows}
    vals = {
        f"{t}.{c}": {
            v for (v,) in duckdb.sql(
                f"SELECT DISTINCT {c} FROM '{SF}/{t}.parquet' "
                f"WHERE {c} IS NOT NULL").fetchall()
        }
        for t, c in _IND_COLUMNS
    }
    for child, fk, parent, pk in _FK_EDGES:
        key = (f"{child}.{fk}", f"{parent}.{pk}")
        assert key in got, key
        assert got[key].containment_permille == 1000, key
    for (a, b), r in got.items():
        inter = len(vals[a] & vals[b])
        assert r.n_shared == inter
        assert r.n_child_distinct == len(vals[a])
        assert r.n_parent_distinct == len(vals[b])
        assert r.containment_permille == inter * 1000 // len(vals[a])
        assert inter * 1000 >= 900 * len(vals[a])


def test_selectivity_hist_eval_python_recompute(spark):
    """Histogram build, interpolation estimates, truths, and errors
    must equal a direct Python pass; errors should be small (an
    equi-depth histogram bounds interpolation error by ~1 bucket)."""
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_selectivity_hist_eval"].spark_fn(
        spark, SF
    ).collect()
    got = {r.threshold_cents: r for r in rows}
    data = duckdb.sql(
        f"SELECT o_totalprice, o_orderkey FROM '{SF}/orders.parquet'"
    ).fetchall()
    cents = sorted(
        (int(Decimal(repr(v)).quantize(Decimal("0.01")) * 100), k)
        for v, k in data
    )
    n = len(cents)
    hist = {}
    for i, (c, _) in enumerate(cents):
        hist.setdefault(i * 16 // n, []).append(c)
    buckets = [(min(v), max(v), len(v)) for _, v in sorted(hist.items())]
    for x in (5000000, 15000000, 30000000):
        est = 0
        for lo, hi, cnt in buckets:
            if hi <= x:
                est += cnt
            elif lo <= x:
                est += cnt * (x - lo + 1) // (hi - lo + 1)
        actual = sum(1 for c, _ in cents if c <= x)
        r = got[x]
        assert (r.est_rows, r.actual_rows) == (est, actual)
        assert r.err_permille == abs(est - actual) * 1000 // actual
        assert r.err_permille <= 100  # within one bucket mass


def test_xml_roundtrip_preserves_rows(spark):
    """The XML write+read must be row-identical on the projected
    columns, not just aggregate-identical."""
    from duckdb_title_mapper_spark.plans.tmpstore import store_root
    from duckdb_title_mapper_spark.workload import all_queries, load

    all_queries()["src_xml_roundtrip"].spark_fn(spark, SF).collect()
    orig = load(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    back = (
        spark.read.schema(orig.schema).format("xml")
        .option("rowTag", "order")
        .load(f"{store_root('io')}/orders_xml")
    )
    a = sorted(map(tuple, orig.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_rfm_segments_python_recompute(spark):
    """Quintile banding on all three axes and segment rollups must
    equal a direct Python pass."""
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_rfm_segments"].spark_fn(spark, SF).collect()
    got = {(r.r_score, r.f_score, r.m_score):
           (r.n_customers, r.avg_rec_days, r.avg_freq, r.avg_cents)
           for r in rows}
    data = duckdb.sql(
        f"SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT),"
        f" o_totalprice FROM '{SF}/orders.parquet'"
    ).fetchall()
    cust = {}
    for c, s, v in data:
        cents = int(Decimal(repr(v)).quantize(Decimal("0.01")) * 100)
        e = cust.setdefault(c, [0, 0, 0])
        e[0] = max(e[0], s)
        e[1] += 1
        e[2] += cents
    anchor = max(e[0] for e in cust.values())
    feats = {c: ((anchor - e[0]) // 86400, e[1], e[2])
             for c, e in cust.items()}
    n = len(feats)

    def band(keyfn):
        order = sorted(feats, key=keyfn)
        return {c: (i * 5) // n for i, c in enumerate(order)}

    rb = band(lambda c: (feats[c][0], c))
    fb = band(lambda c: (feats[c][1], c))
    mb = band(lambda c: (feats[c][2], c))
    segs = {}
    for c in feats:
        key = (5 - rb[c], 1 + fb[c], 1 + mb[c])
        s = segs.setdefault(key, [0, 0, 0, 0])
        s[0] += 1
        s[1] += feats[c][0]
        s[2] += feats[c][1]
        s[3] += feats[c][2]
    want = {k: (v[0], v[1] // v[0], v[2] // v[0], v[3] // v[0])
            for k, v in segs.items()}
    assert got == want


def test_abc_classes_python_recompute(spark):
    """Class boundaries on the cumulative integer share and per-class
    rollups must equal a direct Python pass; shares must cover ~1000
    permille."""
    from decimal import Decimal

    import duckdb

    from duckdb_title_mapper_spark.workload import all_queries

    rows = all_queries()["x_abc_classes"].spark_fn(spark, SF).collect()
    got = {r.abc: (r.n_parts, r.class_cents, r.share_permille)
           for r in rows}
    data = duckdb.sql(
        f"SELECT l_partkey, l_extendedprice "
        f"FROM '{SF}/lineitem.parquet'"
    ).fetchall()
    rev = {}
    for p, v in data:
        rev[p] = rev.get(p, 0) + int(
            Decimal(repr(v)).quantize(Decimal("0.01")) * 100)
    total = sum(rev.values())
    cum = 0
    agg = {}
    for p in sorted(rev, key=lambda p: (-rev[p], p)):
        cls = ("A" if cum * 1000 < 800 * total
               else "B" if cum * 1000 < 950 * total else "C")
        a = agg.setdefault(cls, [0, 0])
        a[0] += 1
        a[1] += rev[p]
        cum += rev[p]
    want = {k: (v[0], v[1], v[1] * 1000 // total)
            for k, v in agg.items()}
    assert got == want
    assert 997 <= sum(v[2] for v in got.values()) <= 1000
