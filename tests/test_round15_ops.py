"""Round-15 operator tests.

x_mutual_best_blocked: the LSH-blocked candidate lane must reproduce
the brute-force mutual-best matching on planted mutual pairs (VERDICT
r14 #5's done-condition).
"""

import numpy as np
import pandas as pd
import pytest

from duckdb_title_mapper_spark.plans.materialize import materialize as _mat
from duckdb_title_mapper_spark.workload import (
    _MBM_ROUNDS,
    _mutual_best_blocked_lsh_sql,
    _mutual_best_blocked_pairs_sql,
    _mutual_best_spark_rounds,
)


def _planted_mutual_corpus(spark, n_pairs: int = 60, dim: int = 64):
    """n_pairs planted mutual pairs: even vec_id 2i is a random unit
    vector, odd vec_id 2i+1 its near-identical twin (cosine ~0.99999),
    so each even's global best odd IS its twin and vice versa — the
    brute-force mutual-best matching is exactly {(2i, 2i+1)} all in
    round 1.  Twins this tight co-bucket in at least one of the two
    8-plane bands with probability ~1 - 2e-4 per pair (deterministic
    seed, so the outcome is fixed, not flaky)."""
    rng = np.random.RandomState(7)
    base = rng.normal(size=(n_pairs, dim))
    base /= np.linalg.norm(base, axis=1)[:, None]
    twin = base + rng.normal(scale=0.005, size=base.shape)
    twin /= np.linalg.norm(twin, axis=1)[:, None]
    ids, vecs = [], []
    for i in range(n_pairs):
        ids.append(2 * i)
        vecs.append(base[i].astype(np.float32).tolist())
        ids.append(2 * i + 1)
        vecs.append(twin[i].astype(np.float32).tolist())
    pdf = pd.DataFrame({
        "vec_id": pd.Series(ids, dtype="int64"),
        "label": pd.Series([0] * len(ids), dtype="int32"),
        "embedding": vecs,
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("embeddings")
    return {i: np.asarray(v, dtype=np.float64) for i, v in zip(ids, vecs)}


def _brute_mutual_rounds(vecs: dict, rounds: int = _MBM_ROUNDS):
    """Pure-python replay of the mutual-best rounds over ALL even x odd
    cosine pairs (the brute-force candidate space)."""
    evens = sorted(i for i in vecs if i % 2 == 0)
    odds = sorted(i for i in vecs if i % 2 == 1)
    unit = {i: v / np.linalg.norm(v) for i, v in vecs.items()}
    cos = {(l, r): float(unit[l] @ unit[r]) for l in evens for r in odds}
    live_l, live_r, matched = set(evens), set(odds), {}
    for rnd in range(1, rounds + 1):
        best_r = {l: max(((cos[(l, r)], -r) for r in live_r))
                  for l in live_l}
        best_l = {r: max(((cos[(l, r)], -l) for l in live_l))
                  for r in live_r}
        this = [(l, -br[1]) for l, br in best_r.items()
                if best_l[-br[1]] == (br[0], -l)]
        for l, r in this:
            matched[(l, r)] = rnd
            live_l.discard(l)
            live_r.discard(r)
        if not live_l or not live_r:
            break
    return matched


def test_blocked_matching_reproduces_brute_on_planted_pairs(spark):
    vecs = _planted_mutual_corpus(spark)
    brute = _brute_mutual_rounds(vecs)
    # every planted twin is a round-1 mutual pair by construction
    assert brute == {(2 * i, 2 * i + 1): 1 for i in range(len(vecs) // 2)}

    lsh = _mat(spark.sql(_mutual_best_blocked_lsh_sql(True)))
    lsh.createOrReplaceTempView("__mbb_lsh_test")
    pairs0 = _mat(spark.sql(
        _mutual_best_blocked_pairs_sql(True, "__mbb_lsh_test")))
    got = {(r.lid, r.rid): r.round
           for r in _mutual_best_spark_rounds(pairs0).collect()}
    assert got == brute


def test_blocked_candidates_are_bucket_bounded(spark):
    """The blocked candidate relation must stay far below the full
    bipartite cross (the whole point of the lane): with 2 bands of
    256 buckets over 120 spread-out vectors, candidates ~ n^2/256 per
    band, not n^2/4."""
    _planted_mutual_corpus(spark)
    lsh = _mat(spark.sql(_mutual_best_blocked_lsh_sql(True)))
    lsh.createOrReplaceTempView("__mbb_lsh_test2")
    n_cand = spark.sql(
        _mutual_best_blocked_pairs_sql(True, "__mbb_lsh_test2")).count()
    n_full = 60 * 60
    assert n_cand < n_full / 4


# ---------------------------------------------------------------------------
# Python replays of the round-15 battery (the r13/r14 pattern: every new
# op's declared law re-derived independently of both SQL dialects).
# ---------------------------------------------------------------------------

import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal

SF = "/root/testdata/sf0.001"


def _nano(v: float) -> int:
    """The round-9 absorber + 1e9 scale, replayed (r14 idiom)."""
    return int(Decimal(repr(round(v, 9))) * 1_000_000_000)


def _q9(v: float, scale: str = "1e-9") -> Decimal:
    """The exact STRING s9 route replayed: shortest repr, HALF_UP."""
    return Decimal(repr(v)).quantize(Decimal(scale), rounding=ROUND_HALF_UP)


def _copurchase_directed(spark):
    """Directed edge list of the sf0.001 co-purchase graph (both
    orientations of the DISTINCT s < d pair relation)."""
    rows = spark.sql(
        f"SELECT l_orderkey AS o, l_partkey AS p"
        f" FROM parquet.`{SF}/lineitem.parquet`").collect()
    by_order: dict[int, set] = {}
    for r in rows:
        by_order.setdefault(r["o"], set()).add(r["p"])
    pairs = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pairs.add((a, b))
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return edges


def _docs(spark):
    return spark.sql(
        f"SELECT doc_id, text, lang, source, n_chars"
        f" FROM parquet.`{SF}/documents.parquet`").collect()


def test_harmonic_centrality_matches_python_bfs(spark):
    """Seeded multi-source BFS to horizon 4: n_reached, sum_dist and
    the lcm-cleared hc_x12 ladder, replayed with a dict BFS."""
    import duckdb_title_mapper_spark.workload as w

    edges = _copurchase_directed(spark)
    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    seeds = sorted(adj)[:8]
    ladder = {1: 12, 2: 6, 3: 4, 4: 3}
    expect = {}
    for s in seeds:
        dist = {s: 0}
        frontier = [s]
        for d in range(1, 5):
            nxt = {v for u in frontier for v in adj.get(u, ())
                   if v not in dist}
            for v in nxt:
                dist[v] = d
            frontier = sorted(nxt)
        expect[s] = (len(dist) - 1,
                     sum(dist.values()),
                     sum(ladder[d] for d in dist.values() if d))
    got = {r["s"]: (r["n_reached"], r["sum_dist"], r["hc_x12"])
           for r in w.core_queries()["x_harmonic_centrality"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_louvain_rounds_matches_python_replay(spark):
    """Synchronous integer-gain Louvain moves, 4 rounds: community
    count and the exact modularity rational per round."""
    import duckdb_title_mapper_spark.workload as w

    edges = _copurchase_directed(spark)
    deg: dict[int, int] = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    m2 = len(edges)
    comm = {n: n for n in deg}
    expect = {}

    def snapshot(r, comm):
        st: dict[int, int] = {}
        for n, c in comm.items():
            st[c] = st.get(c, 0) + deg[n]
        same = sum(1 for a, b in edges if comm[a] == comm[b])
        sum_d2 = sum(v * v for v in st.values())
        expect[r] = (len(set(comm.values())), same, sum_d2,
                     m2 * same - sum_d2, m2 * m2)

    snapshot(0, comm)
    for r in range(1, 5):
        st: dict[int, int] = {}
        for n, c in comm.items():
            st[c] = st.get(c, 0) + deg[n]
        kic: dict[int, dict] = {n: {} for n in deg}
        for a, b in edges:
            c = comm[b]
            kic[a][c] = kic[a].get(c, 0) + 1
        new = {}
        for n in deg:
            cand = dict(kic[n])
            cand.setdefault(comm[n], 0)
            best = None
            for c, k in cand.items():
                score = m2 * k - deg[n] * (
                    st[c] - (deg[n] if c == comm[n] else 0))
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c)
            new[n] = best[1]
        comm = new
        snapshot(r, comm)
    got = {r["round"]: (r["n_comms"], r["same_edges"], r["sum_d2"],
                        r["q_num"], r["q_den"])
           for r in w.core_queries()["x_louvain_rounds"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_team_draft_matches_python_replay(spark):
    """Team-draft interleaving: ranker construction, fewer-picks /
    md5-coin drafting, click attribution — full greedy replay."""
    import duckdb_title_mapper_spark.workload as w

    docs = _docs(spark)
    by_q: dict[str, list] = {}
    for d in docs:
        by_q.setdefault(d["source"], []).append(d)
    expect = {}
    for q, ds in by_q.items():
        rank_a = [d["doc_id"] for d in
                  sorted(ds, key=lambda d: (-d["n_chars"], d["doc_id"]))]
        rank_b = [d["doc_id"] for d in
                  sorted(ds, key=lambda d: (
                      hashlib.md5(d["text"].encode()).hexdigest(),
                      d["doc_id"]))]
        lang = {d["doc_id"]: d["lang"] for d in ds}
        selected: dict[int, str] = {}
        for i in range(1, 7):
            na = sum(1 for t in selected.values() if t == "A")
            nb = len(selected) - na
            if na < nb:
                team = "A"
            elif nb < na:
                team = "B"
            else:
                team = ("A" if hashlib.md5(f"{q}:{i}".encode())
                        .hexdigest()[0] < "8" else "B")
            pool = rank_a if team == "A" else rank_b
            pick = next((d for d in pool if d not in selected), None)
            if pick is not None:
                selected[pick] = team
        ca = sum(1 for d, t in selected.items()
                 if t == "A" and lang[d] == "en")
        cb = sum(1 for d, t in selected.items()
                 if t == "B" and lang[d] == "en")
        expect[q] = (ca, cb, (ca > cb) - (cb > ca))
    got = {r["source"]: (r["clicks_a"], r["clicks_b"], r["winner"])
           for r in w.core_queries()["x_team_draft_interleave"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_dsir_weights_matches_python_replay(spark):
    """Hashed unigram+bigram buckets, Laplace log ratios at nano,
    per-doc integer sums."""
    import duckdb_title_mapper_spark.workload as w

    feats = []  # (doc_id, tgt, bkt)
    for d in _docs(spark):
        toks = re.findall(r"\w+", d["text"].lower())
        tgt = 1 if d["lang"] == "en" else 0
        grams = list(toks)
        if len(toks) >= 2:
            grams += [f"{toks[i]} {toks[i + 1]}"
                      for i in range(len(toks) - 1)]
        for g in grams:
            bkt = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 64
            feats.append((d["doc_id"], tgt, bkt))
    big_t = sum(1 for _, t, _b in feats if t == 1)
    big_r = len(feats)
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for _, t, b in feats:
        cr[b] = cr.get(b, 0) + 1
        if t == 1:
            ct[b] = ct.get(b, 0) + 1
    lr = {b: _nano(math.log(
        float((ct.get(b, 0) + 1) * (big_r + 64))
        / (float(cr[b] + 1) * (big_t + 64)))) for b in cr}
    expect: dict[int, list] = {}
    for doc, _t, b in feats:
        e = expect.setdefault(doc, [0, 0])
        e[0] += 1
        e[1] += lr[b]
    expect = {k: tuple(v) for k, v in expect.items()}
    got = {r["doc_id"]: (r["n_feats"], r["logw_nano"])
           for r in w.core_queries()["x_dsir_weights"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_query_likelihood_matches_python_replay(spark):
    """Dirichlet QL decomposition: per-term nano logs, integer doc
    scores, the deterministic top-20 boundary."""
    import duckdb_title_mapper_spark.workload as w

    terms = ("spark", "window", "merge")
    tok = []
    for d in _docs(spark):
        for t in re.findall(r"\w+", d["text"].lower()):
            tok.append((d["doc_id"], t))
    csz = len(tok)
    dl: dict[int, int] = {}
    cf: dict[str, int] = {}
    tf: dict[tuple, int] = {}
    for doc, t in tok:
        dl[doc] = dl.get(doc, 0) + 1
        if t in terms:
            cf[t] = cf.get(t, 0) + 1
            tf[(doc, t)] = tf.get((doc, t), 0) + 1
    scored: dict[int, list] = {}
    for (doc, t), f in tf.items():
        s = scored.setdefault(doc, [0, 0])
        s[0] += 1
        s[1] += _nano(math.log(1 + float(f * csz) / (100.0 * cf[t])))
    for doc, s in scored.items():
        s[1] += 3 * _nano(math.log(100.0 / (dl[doc] + 100)))
    top = sorted(scored.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    expect = [(doc, s[0], s[1]) for doc, s in top]
    got = [(r["doc_id"], r["n_matched"], r["score_s9"])
           for r in w.core_queries()["x_query_likelihood_lm"]
           .spark_fn(spark, SF).collect()]
    assert got == expect


def test_mann_whitney_matches_python_replay(spark):
    """Midrank decomposition, tie correction, the z^2 IEEE expression
    and its STRING-route quantization."""
    import duckdb_title_mapper_spark.workload as w

    vals = [(d["n_chars"], 1 if d["lang"] == "en" else 0)
            for d in _docs(spark)]
    dv: dict[int, list] = {}
    for v, g in vals:
        e = dv.setdefault(v, [0, 0])
        e[0] += 1
        e[1] += g
    strt, r1_x2, tie = 1, 0, 0
    n1 = sum(g for _, g in vals)
    n = len(vals)
    for v in sorted(dv):
        cnt, cnt1 = dv[v]
        r1_x2 += cnt1 * (2 * strt + cnt - 1)
        tie += cnt * cnt * cnt - cnt
        strt += cnt
    n2 = n - n1
    u_x2 = r1_x2 - n1 * (n1 + 1)
    a = r1_x2 - n1 * (n1 + 1) - n1 * n2
    z2 = (float(a) * a * 3 * n * (n - 1)) / (
        float(n1) * n2 * (n * n * n - n - tie))
    row = (w.core_queries()["x_mann_whitney_u"]
           .spark_fn(spark, SF).collect())
    assert len(row) == 1
    r = row[0]
    assert (r["n1"], r["n2"], r["u_x2"], r["tie_sum"]) == (
        n1, n2, u_x2, tie)
    assert Decimal(str(r["z2_q"])) == _q9(z2)
    assert r["significant"] == (1 if z2 > 3.8416 else 0)


def test_anova_matches_python_replay(spark):
    """Balanced-design integer SSB/SSW and the exact F rational."""
    import duckdb_title_mapper_spark.workload as w

    g: dict[str, list] = {}
    for d in _docs(spark):
        e = g.setdefault(d["source"], [0, 0, 0])
        e[0] += 1
        e[1] += d["n_chars"]
        e[2] += d["n_chars"] * d["n_chars"]
    k = len(g)
    n = sum(e[0] for e in g.values())
    s = sum(e[1] for e in g.values())
    q = sum(e[2] for e in g.values())
    sq2 = sum(e[1] * e[1] for e in g.values())
    sizes = [e[0] for e in g.values()]
    f_num = (k * sq2 - s * s) * (n - k)
    f_den = (n * q - k * sq2) * (k - 1)
    r = (w.core_queries()["x_anova_oneway"]
         .spark_fn(spark, SF).collect())[0]
    assert (r["k"], r["n"], r["balanced"]) == (
        k, n, 1 if min(sizes) == max(sizes) else 0)
    assert (r["ssb_xn"], r["ssw_xn"], r["f_num"], r["f_den"]) == (
        k * sq2 - s * s, n * q - k * sq2, f_num, f_den)
    assert Decimal(str(r["f_q"])) == _q9(float(f_num) / f_den)


def _langid_predict(text: str) -> str:
    sig = {"en": "the|a|of|to|and", "es": "el|la|de|que|los",
           "fr": "le|la|les|des|une", "de": "der|die|das|und|ein"}
    votes = {lang: len(re.findall(rf"\b({w})\b", text.lower()))
             for lang, w in sig.items()}
    mx = max(votes.values())
    if mx == 0:
        return "und"
    for lang in ("en", "es", "fr", "de"):
        if votes[lang] == mx:
            return lang


def test_mcnemar_matches_python_replay(spark):
    """Discordant counts, continuity-corrected chi2 rational and the
    cross-multiplied 0.05 decision, replayed from the raw text."""
    import duckdb_title_mapper_spark.workload as w

    b = c = acc_a = acc_b = n = 0
    for d in _docs(spark):
        a_ok = _langid_predict(d["text"]) == d["lang"]
        b_ok = d["lang"] == "en"
        n += 1
        acc_a += a_ok
        acc_b += b_ok
        b += a_ok and not b_ok
        c += b_ok and not a_ok
    cn = 0 if b + c == 0 else max(abs(b - c) - 1, 0) ** 2
    r = (w.core_queries()["x_mcnemar_paired"]
         .spark_fn(spark, SF).collect())[0]
    assert (r["n"], r["acc_a"], r["acc_b"], r["only_a_correct"],
            r["only_b_correct"], r["chi_num"], r["chi_den"],
            r["significant"]) == (
        n, acc_a, acc_b, b, c, cn, b + c,
        1 if 625 * cn > 2401 * (b + c) else 0)


def test_naive_bayes_matches_python_replay(spark):
    """Floored vocabulary, Laplace grid log-probs at nano, priors."""
    import duckdb_title_mapper_spark.workload as w

    toks = []
    nd: dict[str, int] = {}
    for d in _docs(spark):
        nd[d["lang"]] = nd.get(d["lang"], 0) + 1
        for t in re.findall(r"\w+", d["text"].lower()):
            toks.append((d["lang"], t))
    corpus: dict[str, int] = {}
    for _, t in toks:
        corpus[t] = corpus.get(t, 0) + 1
    vocab = {t for t, cnt in corpus.items() if cnt >= 20}
    v = len(vocab)
    cnt: dict[tuple, int] = {}
    ctot: dict[str, int] = {}
    for lang, t in toks:
        if t in vocab:
            cnt[(lang, t)] = cnt.get((lang, t), 0) + 1
            ctot[lang] = ctot.get(lang, 0) + 1
    classes = sorted(nd)
    big_n = sum(nd.values())
    expect = {}
    for lang in classes:
        for t in vocab:
            k = cnt.get((lang, t), 0)
            expect[(lang, t)] = (k, _nano(math.log(
                float(k + 1) / (ctot.get(lang, 0) + v))))
        expect[(lang, "__prior__")] = (nd[lang], _nano(math.log(
            float(nd[lang]) / big_n)))
    got = {(r["lang"], r["token"]): (r["cnt"], r["logp_nano"])
           for r in w.core_queries()["x_naive_bayes_model"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_allen_census_matches_python_replay(spark):
    """Sessionization, promo-window construction, the ordered 13-way
    CASE ladder — full census replay in integer micros."""
    import duckdb_title_mapper_spark.workload as w

    w.load(spark, SF, "events").createOrReplaceTempView("events")
    rows = spark.sql(
        "SELECT user_id AS u, unix_micros(ts) AS us FROM events"
    ).collect()
    by_u: dict[int, list] = {}
    for r in rows:
        by_u.setdefault(r["u"], []).append(r["us"])
    day = 86_400_000_000
    sessions = []
    for u, ts in by_u.items():
        ts.sort()
        s1 = e1 = ts[0]
        for t in ts[1:]:
            if t - e1 > 1_800_000_000:
                sessions.append((s1, e1))
                s1 = t
            e1 = t
        sessions.append((s1, e1))
    days = {us // day for _, ts in by_u.items() for us in ts}
    wins = {d: (d * day + 32_400_000_000, d * day + 54_000_000_000)
            for d in days}

    def classify(s1, e1, s2, e2):
        if e1 < s2:
            return "before"
        if e1 == s2:
            return "meets"
        if s1 < s2 and e1 > s2 and e1 < e2:
            return "overlaps"
        if s1 < s2 and e1 == e2:
            return "finished_by"
        if s1 < s2 and e1 > e2:
            return "contains"
        if s1 == s2 and e1 < e2:
            return "starts"
        if s1 == s2 and e1 == e2:
            return "equals"
        if s1 == s2 and e1 > e2:
            return "started_by"
        if s1 > s2 and e1 < e2:
            return "during"
        if s1 > s2 and e1 == e2:
            return "finishes"
        if s1 < e2 and e1 > e2:
            return "overlapped_by"
        if s1 == e2:
            return "met_by"
        return "after"

    census: dict[str, int] = {}
    for s1, e1 in sessions:
        d = s1 // day
        if d in wins:
            rel = classify(s1, e1, *wins[d])
            census[rel] = census.get(rel, 0) + 1
    got = {r["relation"]: r["n_pairs"]
           for r in w.core_queries()["x_allen_interval_census"]
           .spark_fn(spark, SF).collect()}
    assert got == census


def test_good_turing_matches_python_replay(spark):
    """Bigram count-of-counts, exact r* rationals, unseen-mass row."""
    import duckdb_title_mapper_spark.workload as w

    cnt: dict[str, int] = {}
    for d in _docs(spark):
        ts = re.findall(r"\w+", d["text"].lower())
        for i in range(len(ts) - 1):
            g = f"{ts[i]} {ts[i + 1]}"
            cnt[g] = cnt.get(g, 0) + 1
    cc: dict[int, int] = {}
    for r in cnt.values():
        cc[r] = cc.get(r, 0) + 1
    n_tokens = sum(r * n for r, n in cc.items())
    n1 = cc.get(1, 0)
    expect = {}
    for r, n_r in cc.items():
        if r <= 15:
            n_r1 = cc.get(r + 1, 0)
            num = (r + 1) * n_r1
            expect[r] = (n_r, n_r1, num, n_r, num * 1_000_000 // n_r)
    expect[0] = (n_tokens, n1, n1, n_tokens,
                 n1 * 1_000_000 // n_tokens)
    got = {r["r"]: (r["n_r"], r["n_r1"], r["rstar_num"],
                    r["rstar_den"], r["rstar_ppm"])
           for r in w.core_queries()["x_good_turing_smoothing"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_katz_centrality_matches_python_replay(spark):
    """The 8^t-scaled integer Katz recurrence, 4 hops, top-25."""
    import duckdb_title_mapper_spark.workload as w

    edges = _copurchase_directed(spark)
    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    s = {n: 1 for n in adj}
    for t in range(1, 5):
        s = {n: 8 ** t + sum(s[v] for v in nbrs)
             for n, nbrs in adj.items()}
    top = sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    expect = [(n, sv, len(adj[n])) for n, sv in top]
    got = [(r["node"], r["katz_x4096"], r["deg"])
           for r in w.core_queries()["x_katz_centrality"]
           .spark_fn(spark, SF).collect()]
    assert got == expect


def test_link_prediction_matches_python_replay(spark):
    """Rank-16 truncated wedges, anti-join, Jaccard ppm with true
    degrees, STRING-s9 resource-allocation nano sums, top-50."""
    import duckdb_title_mapper_spark.workload as w

    edges = _copurchase_directed(spark)
    eset = set(edges)
    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    deg = {n: len(v) for n, v in adj.items()}
    cand: dict[tuple, list] = {}
    for z, nbrs in adj.items():
        trunc = sorted(nbrs)[:16]
        ra = int(_q9(1.0 / deg[z]) * 1_000_000_000)
        for i, u in enumerate(trunc):
            for v in trunc[i + 1:]:
                if (u, v) not in eset:
                    e = cand.setdefault((u, v), [0, 0])
                    e[0] += 1
                    e[1] += ra
    top = sorted(cand.items(),
                 key=lambda kv: (-kv[1][0], kv[0]))[:50]
    expect = [(u, v, c[0], deg[u], deg[v],
               c[0] * 1_000_000 // (deg[u] + deg[v] - c[0]), c[1])
              for (u, v), c in top]
    got = [(r["u"], r["v"], r["cn"], r["deg_u"], r["deg_v"],
            r["jaccard_ppm"], r["ra_nano"])
           for r in w.core_queries()["x_link_prediction_topk"]
           .spark_fn(spark, SF).collect()]
    assert got == expect


def test_boruvka_msf_matches_python_replay(spark):
    """Full Boruvka replay with TRUE (fully flattened) contraction:
    the fixed-round SQL trajectory must match round for round, and
    the final forest must be the maximum spanning tree (n-1 edges,
    one component) — proving the 3-jump flattening lost nothing on
    this graph."""
    import duckdb_title_mapper_spark.workload as w

    rows = spark.sql(
        f"SELECT l_orderkey AS o, l_partkey AS p"
        f" FROM parquet.`{SF}/lineitem.parquet`").collect()
    by_order: dict[int, list] = {}
    for r in rows:
        by_order.setdefault(r["o"], []).append(r["p"])
    # weight counts LINE pairs (duplicate parts in one order multiply)
    wpairs: dict[tuple, int] = {}
    for parts in by_order.values():
        for i, a in enumerate(parts):
            for b in parts[i + 1:]:
                lo, hi = min(a, b), max(a, b)
                if lo != hi:
                    wpairs[(lo, hi)] = wpairs.get((lo, hi), 0) + 1
    nodes = {n for ab in wpairs for n in ab}
    comp = {n: n for n in nodes}
    forest: set = set()
    expect = {}
    for r in range(1, 5):
        best: dict[int, tuple] = {}
        for (a, b), wt in wpairs.items():
            for u, v in ((a, b), (b, a)):
                cu, cv = comp[u], comp[v]
                if cu != cv:
                    key = (-wt, a, b)
                    if cu not in best or key < best[cu][0]:
                        best[cu] = (key, cv, a, b, wt)
        for _k, _cv, a, b, wt in best.values():
            forest.add((a, b, wt))
        # exact union-find contraction (full flattening)
        parent = {c: t[1] for c, t in best.items()}
        for c, t in best.items():
            if parent.get(t[1]) == c and c < t[1]:
                parent[c] = c

        def root(c):
            while parent.get(c, c) != c:
                c = parent[c]
            return c

        comp = {n: root(comp[n]) for n in nodes}
        expect[r] = (len(set(comp.values())), len(forest),
                     sum(wt for _a, _b, wt in forest))
    got = {r["round"]: (r["n_comps"], r["n_forest_edges"],
                        r["forest_w"])
           for r in w.core_queries()["x_boruvka_msf"]
           .spark_fn(spark, SF).collect()}
    assert got == expect
    assert got[4][0] == 1 and got[4][1] == len(nodes) - 1


_EMPTY_INPUT_CASES = [("lineitem", n) for n in (
    "x_boruvka_msf", "x_bfs_levels", "x_sssp_bellman",
    "x_graph_diameter_sweep", "x_temporal_reachability")] + [
    ("documents", n) for n in (
        "x_multimodal_meta", "x_multimodal_real_decode",
        "x_multimodal_real_resize", "x_multimodal_jpeg_decode",
        "x_multimodal_png_decode", "x_multimodal_gif_decode",
        "x_media_frame_stats", "x_media_features",
        "x_multimodal_mp4_meta", "x_multimodal_mp3_meta",
        "x_media_curation_report", "x_multimodal_h264_nals",
        "x_multimodal_aac_adts", "x_av_curation_report",
        "x_audio_qa_gate", "x_multimodal_curation_manifest")]


@pytest.mark.parametrize("table,name", _EMPTY_INPUT_CASES)
def test_empty_input_matches_oracle(spark, tmp_path, table, name):
    """Degenerate input: with a zero-row ``table`` each query must still
    return what its oracle returns.  A zero-row lineitem gives an empty
    co-purchase graph: Boruvka reports every round as (r, 0, 0, 0) —
    the snapshot's ``coalesce(sum(w), 0)`` is on both sides — and its
    laundered fused-slice unions must run on empty checkpointed
    relations; the min-plus loops start from an empty seeded state; the
    diameter sweep's single row must survive an empty phase-2 seed.  A
    zero-row documents gives every multimodal query an empty media
    table: the synthesizer and the row mapper must yield typed empty
    batches, and the media-meta census an empty parquet relation."""
    import os
    import sys

    import duckdb
    import pyarrow.parquet as pq

    import duckdb_title_mapper_spark.workload as w

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from check_oracle import canon

    for t in w.TABLES:
        if t != table:
            os.symlink(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    empty = pq.read_table(f"{SF}/{table}.parquet").slice(0, 0)
    pq.write_table(empty, tmp_path / f"{table}.parquet")

    q = w.all_queries()[name]
    sdf = q.spark_fn(spark, str(tmp_path))
    rows = [tuple(r) for r in sdf.collect()]
    s_cols, s_rows = canon(rows, sdf.columns)
    con = duckdb.connect()
    for t in w.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tmp_path}/{t}.parquet')")
    rel = con.sql(q.oracle)
    d_cols, d_rows = canon(rel.fetchall(), list(rel.columns))
    assert s_cols == d_cols
    assert s_rows == d_rows
    if name == "x_boruvka_msf":
        assert rows == [(r, 0, 0, 0) for r in range(1, 5)]


def test_seq_pattern_support_matches_python_replay(spark):
    """Brute-force subsequence existence per user (actual occurrence
    triples, not the extremes shortcut) — verifying the declared
    first/earliest-after/last reduction against ground truth."""
    import duckdb_title_mapper_spark.workload as w

    w.load(spark, SF, "events").createOrReplaceTempView("events")
    rows = spark.sql(
        "SELECT user_id AS u, event_type AS t, unix_micros(ts) AS us"
        " FROM events").collect()
    by_u: dict[int, list] = {}
    for r in rows:
        by_u.setdefault(r["u"], []).append((r["us"], r["t"]))
    types = sorted({r["t"] for r in rows})
    n_users = len(by_u)
    sup: dict[tuple, int] = {}
    for _u, evs in by_u.items():
        evs.sort()
        seen2, seen3 = set(), set()
        for a in types:
            ta = [us for us, t in evs if t == a]
            if not ta:
                continue
            fa = ta[0]
            for b in types:
                tb = [us for us, t in evs if t == b and us > fa]
                if not tb:
                    continue
                seen2.add((a, b))
                fb = tb[0]
                for c in types:
                    if any(us > fb for us, t in evs if t == c):
                        seen3.add((a, b, c))
        for p in seen2:
            sup[p] = sup.get(p, 0) + 1
        for p in seen3:
            sup[p] = sup.get(p, 0) + 1
    expect = {}
    for p, s in sup.items():
        expect[">".join(p)] = (len(p), s, s * 1000 // n_users)
    got = {r["pattern"]: (r["length"], r["support"], r["support_pm"])
           for r in w.core_queries()["x_seq_pattern_support"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_stable_matching_matches_sequential_gale_shapley(spark):
    """The parallel 8-round SQL must produce exactly the textbook
    SEQUENTIAL Gale-Shapley matching (the man-optimal stable matching
    is unique, so any converged deferred-acceptance schedule agrees),
    with the declared preference order and zero blocking pairs."""
    import duckdb_title_mapper_spark.workload as w

    rows = spark.sql(
        f"SELECT vec_id, embedding"
        f" FROM parquet.`{SF}/embeddings.parquet`").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}
    unit = {}
    for i, v in vecs.items():
        # mirror the SQL: per-component double division by sqrt(dot)
        unit[i] = v / math.sqrt(float(v @ v))
    lids = sorted(i for i in unit if i < 40)
    rids = sorted(i for i in unit if i >= 40)
    pref = {}
    cos = {}
    for l in lids:
        scored = []
        for r in rids:
            # index-order fold, like the SQL aggregate
            c = 0.0
            for x, y in zip(unit[l], unit[r]):
                c += float(x) * float(y)
            cos[(l, r)] = c
            scored.append((-c, r))
        scored.sort()
        pref[l] = [r for _c, r in scored[:4]]
    # sequential textbook GS
    nxt = {l: 0 for l in lids}
    engaged_r: dict[int, int] = {}
    free = list(lids)
    while free:
        l = free.pop(0)
        if nxt[l] >= len(pref[l]):
            continue
        r = pref[l][nxt[l]]
        nxt[l] += 1
        cur = engaged_r.get(r)
        if cur is None:
            engaged_r[r] = l
        elif (-cos[(l, r)], l) < (-cos[(cur, r)], cur):
            engaged_r[r] = l
            free.append(cur)
        else:
            free.append(l)
    expect_pairs = {(l, r) for r, l in engaged_r.items()}
    got = w.core_queries()["x_stable_matching_gs"] \
        .spark_fn(spark, SF).collect()
    got_pairs = {(r["lid"], r["rid"]) for r in got}
    assert got_pairs == expect_pairs
    assert all(r["n_blocking"] == 0 for r in got)
    for r in got:
        assert pref[r["lid"]][r["pref_rank"] - 1] == r["rid"]


def test_ktruss_peel_matches_python_replay(spark):
    """Three peel rounds replayed with set-based triangle counting."""
    import duckdb_title_mapper_spark.workload as w

    edges = {(a, b) for a, b in _copurchase_directed(spark) if a < b}
    expect = {}
    cur = set(edges)
    for r in range(1, 4):
        adj: dict[int, set] = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
        sup: dict[tuple, int] = {}
        n_tri = 0
        for a, b in cur:
            for c in adj.get(a, set()) & adj.get(b, set()):
                n_tri += 1
                for e in ((a, b), (b, c), (a, c)):
                    sup[e] = sup.get(e, 0) + 1
        nxt = {e for e in cur if sup.get(e, 0) >= 2}
        expect[r] = (len(nxt), len(cur) - len(nxt), n_tri)
        cur = nxt
    got = {r["round"]: (r["n_edges"], r["n_removed"],
                        r["n_triangles"])
           for r in w.core_queries()["x_ktruss_peel"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_markov_entropy_rate_matches_python_replay(spark):
    """Transition counts, conditional ppm, nano log-probs and the
    integer entropy-rate composition replayed from the raw stream."""
    import duckdb_title_mapper_spark.workload as w

    w.load(spark, SF, "events").createOrReplaceTempView("events")
    rows = spark.sql(
        "SELECT user_id AS u, event_type AS t, unix_micros(ts) AS us,"
        " event_id AS e FROM events").collect()
    by_u: dict[int, list] = {}
    for r in rows:
        by_u.setdefault(r["u"], []).append((r["us"], r["e"], r["t"]))
    c: dict[tuple, int] = {}
    for evs in by_u.values():
        evs.sort()
        for (_u1, _e1, a), (_u2, _e2, b) in zip(evs, evs[1:]):
            c[(a, b)] = c.get((a, b), 0) + 1
    cs: dict[str, int] = {}
    for (a, _b), n in c.items():
        cs[a] = cs.get(a, 0) + n
    t_total = sum(c.values())
    lnp = {k: _nano(math.log(float(n) / cs[k[0]]))
           for k, n in c.items()}
    h_nano = (-sum(c[k] * lnp[k] for k in c)) // t_total
    expect = {k: (c[k], cs[k[0]], c[k] * 1_000_000 // cs[k[0]],
                  lnp[k], h_nano, t_total) for k in c}
    got = {(r["s"], r["t"]): (r["c_st"], r["c_s"], r["p_ppm"],
                              r["lnp_nano"], r["h_nano"],
                              r["t_total"])
           for r in w.core_queries()["x_markov_entropy_rate"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_luby_mis_matches_python_replay(spark):
    """Luby rounds replayed with the same md5 coins; also asserts the
    invariants (independence of the accumulated set, and maximality
    over the removed region)."""
    import duckdb_title_mapper_spark.workload as w

    edges = _copurchase_directed(spark)
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    live = set(adj)
    mis_total: set = set()
    expect = {}

    def pri(v, r):
        h = int(hashlib.md5(f"{v}:{r}".encode()).hexdigest()[:8], 16)
        return h * 1048576 + v

    for r in range(1, 5):
        this = {v for v in live
                if all(pri(v, r) < pri(u, r)
                       for u in adj[v] & live)}
        removed = this | {u for v in this for u in adj[v]}
        live = live - removed
        mis_total |= this
        expect[r] = (len(this), len(mis_total), len(live))
    got = {r["round"]: (r["n_new"], r["n_mis_total"], r["n_live"])
           for r in w.core_queries()["x_luby_mis"]
           .spark_fn(spark, SF).collect()}
    assert got == expect
    # independence: no two MIS nodes adjacent
    assert not any(u in adj[v] for v in mis_total for u in mis_total)
    # maximality over the removed region: every removed non-MIS node
    # has an MIS neighbor
    removed_all = set(adj) - live - mis_total
    assert all(adj[v] & mis_total for v in removed_all)


def test_dft_period_power_matches_python_replay(spark):
    """Goertzel projections replayed with the identical per-term
    micro quantization and integer sums."""
    import duckdb_title_mapper_spark.workload as w

    w.load(spark, SF, "events").createOrReplaceTempView("events")
    rows = spark.sql(
        "SELECT unix_micros(ts) div 3600000000 AS h, count(*) AS v"
        " FROM events GROUP BY unix_micros(ts) div 3600000000"
    ).collect()
    vol = {r["h"]: r["v"] for r in rows}
    n, s, h0 = len(vol), sum(vol.values()), min(vol)

    def micro(x: float) -> int:
        return int(Decimal(repr(round(x, 6))) * 1_000_000)

    expect = {}
    for p in (6, 12, 24, 168):
        sc = ss = 0
        for h, v in vol.items():
            ti = h - h0
            amp = float(n * v - s) / n
            arg = (2 * math.pi * ti) / p
            sc += micro(amp * math.cos(arg))
            ss += micro(amp * math.sin(arg))
        power = round((float(sc) / 1000000) * (float(sc) / 1000000)
                      + (float(ss) / 1000000) * (float(ss) / 1000000),
                      3)
        expect[p] = (sc, ss, int(Decimal(repr(power)) * 1000))
    got = {r["period_h"]: (r["s_cos_micro"], r["s_sin_micro"],
                           r["power_milli"])
           for r in w.core_queries()["x_dft_period_power"]
           .spark_fn(spark, SF).collect()}
    assert got == expect


def test_ccf_leadlag_matches_python_replay(spark):
    """Mean-cleared covariance numerators and the milli-absorbed
    normalized r replayed per lag."""
    import duckdb_title_mapper_spark.workload as w

    w.load(spark, SF, "events").createOrReplaceTempView("events")
    rows = spark.sql(
        "SELECT event_type AS et, unix_micros(ts) div 3600000000 AS h"
        " FROM events WHERE event_type IN ('view', 'purchase')"
    ).collect()
    xs: dict[int, int] = {}
    ys: dict[int, int] = {}
    hours = set()
    for r in rows:
        hours.add(r["h"])
        d = xs if r["et"] == "view" else ys
        d[r["h"]] = d.get(r["h"], 0) + 1
    n = len(hours)
    sx = sum(xs.values())
    sy = sum(ys.values())
    dx = sum((n * xs.get(h, 0) - sx) ** 2 for h in hours)
    dy = sum((n * ys.get(h, 0) - sy) ** 2 for h in hours)
    expect = {}
    for k in range(-6, 7):
        num = sum((n * xs.get(h, 0) - sx) * (n * ys.get(h + k, 0) - sy)
                  for h in hours if h + k in hours)
        terms = sum(1 for h in hours if h + k in hours)
        r_m = int(Decimal(repr(round(
            float(num) / (math.sqrt(float(dx)) * math.sqrt(float(dy))),
            3))) * 1000)
        expect[k] = (num, terms, r_m)
    got = {r["lag_h"]: (r["num_n2"], r["n_terms"], r["r_milli"])
           for r in w.core_queries()["x_ccf_leadlag"]
           .spark_fn(spark, SF).collect()}
    assert got == expect
