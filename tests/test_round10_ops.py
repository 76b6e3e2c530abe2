"""Semantic invariants for the round-10 operators (beyond the oracle
value-compare in test_oracle_parity): MoE routing conservation laws
and FIM span partition identities."""

SF = "/root/testdata/sf0.001"


def test_moe_routing_conservation(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_moe_routing_stats"].spark_fn(
        spark, SF).collect()
    assert len(rows) == 8
    by_e = {r["expert"]: r for r in rows}
    assert sorted(by_e) == list(range(8))
    total_top1 = sum(r["n_top1"] for r in rows)
    total_top2 = sum(r["n_top2"] for r in rows)
    # every token instance routed exactly once per lane
    assert total_top1 == total_top2
    routed_total = rows[0]["aux_den_routed"]
    assert total_top1 + total_top2 == routed_total
    # score mass: 8 hex-byte scores per word instance, shared denom
    assert sum(r["score_sum"] for r in rows) == rows[0]["aux_den_score"]
    for r in rows:
        assert r["n_routed"] == r["n_top1"] + r["n_top2"]
        assert r["aux_num"] == r["n_routed"] * r["score_sum"]
        cap = (routed_total * 5 + 31) // 32
        assert r["capacity"] == cap
        assert r["demand_overflow"] == max(0, r["n_routed"] - cap)


def test_moe_top1_top2_distinct(spark):
    """The packed-argmax exclusion must never route a token's two
    slots to the same expert."""
    from duckdb_title_mapper_spark.workload import _moe_routing_sql, \
        register_views

    register_views(spark, SF, "documents")
    inner = _moe_routing_sql(True)
    # re-run just the routed CTE portion: splice a probe on top
    probe = inner.split("lanes AS (")[0] + (
        "probe AS (SELECT count(*) AS bad FROM routed "
        "WHERE top1 = top2) SELECT bad FROM probe")
    assert spark.sql(probe).collect()[0]["bad"] == 0


def test_fim_spans_partition_each_doc(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_fim_splits"].spark_fn(spark, SF).collect()
    assert rows, "no FIM rows"
    for r in rows:
        assert r["mode"] in ("PSM", "SPM")
        assert r["total_prefix"] >= 0
        assert r["total_middle"] >= 0
        assert r["total_suffix"] >= 0
        assert 0 <= r["middle_permille"] <= 1000
    # spans partition the token mass: sum over modes equals corpus
    # token count per source
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        "source",
        F.size(F.regexp_extract_all(
            F.lower("text"), F.lit(r"\w+"), 0)).alias("n"))
    truth = {r["source"]: r["t"] for r in
             toks.groupBy("source").agg(
                 F.sum("n").alias("t")).collect()}
    per_source: dict = {}
    for r in rows:
        per_source[r["source"]] = per_source.get(r["source"], 0) + (
            r["total_prefix"] + r["total_middle"] + r["total_suffix"])
    assert per_source == truth


def test_preference_cycles_tournament_identities(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_preference_cycles"].spark_fn(
        spark, SF).collect()
    k = 16
    assert len(rows) == k
    # every pair produces exactly one Copeland point and 3 games
    assert sum(r["copeland"] for r in rows) == k * (k - 1) // 2
    assert sum(r["games_won"] for r in rows) == 3 * k * (k - 1) // 2
    n_cyc = rows[0]["n_cyclic_triads"]
    assert all(r["n_cyclic_triads"] == n_cyc for r in rows)
    # Kendall-Babington Smith bounds: 0 <= cyclic <= (k^3 - 4k)/24
    assert 0 <= n_cyc <= (k**3 - 4 * k) // 24
    for r in rows:
        assert r["bt_rating_num"] == 2 * r["games_won"]
        assert r["bt_rating_den"] == 3 * k * (k - 1) // 2


def test_zipf_octave_zero_is_the_top_term(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_zipf_octaves"].spark_fn(spark, SF).collect()
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], {})[r["octave"]] = r
    for source, octs in by_source.items():
        # octave o holds ranks [2^o, 2^(o+1)) -> at most 2^o terms,
        # octave 0 exactly the single top term
        assert octs[0]["n_terms"] == 1, source
        for o, r in octs.items():
            assert r["n_terms"] <= 1 << o
            assert r["max_freq"] >= r["min_freq"]
        # frequency envelope is non-increasing across octaves
        os_ = sorted(octs)
        for a, b in zip(os_, os_[1:]):
            assert octs[a]["min_freq"] >= octs[b]["max_freq"] or \
                octs[a]["min_freq"] >= octs[b]["min_freq"]


def test_length_curriculum_monotone_phases(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = sorted(core_queries()["x_length_curriculum"].spark_fn(
        spark, SF).collect(), key=lambda r: r["phase"])
    assert [r["phase"] for r in rows] == list(range(len(rows)))
    # the curriculum property: phase length envelopes are monotone
    for a, b in zip(rows, rows[1:]):
        assert a["max_tokens"] <= b["min_tokens"] or \
            a["max_tokens"] <= b["max_tokens"]
    # equal-budget targeting: every non-final phase stops within one
    # document of its ceil-div budget
    total = sum(r["token_mass"] for r in rows)
    budget = -(-total // 4)
    for r in rows[:-1]:
        assert r["token_mass"] <= budget + r["max_tokens"]


def test_lateness_histogram_counts_all_events(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_event_lateness_histogram"].spark_fn(
        spark, SF).collect()
    import pyarrow.parquet as pq

    n_events = pq.read_metadata(f"{SF}/events.parquet").num_rows
    assert sum(r["n_events"] for r in rows) == n_events
    for r in rows:
        if r["lateness_octave_s"] == -1:
            # on-time rows carry late_us = -1 exactly, so the octave's
            # max IS the sentinel (r10 advice: the old `< 0 or is not
            # None` form was a tautology)
            assert r["max_late_us"] == -1
        else:
            assert r["max_late_us"] > 0


def test_hnsw_layers_geometric_shape(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = sorted(core_queries()["x_hnsw_layers"].spark_fn(
        spark, SF).collect(), key=lambda r: r["layer"])
    n = sum(r["n_top_here"] for r in rows)
    # every vector gets exactly one max layer
    import pyarrow.parquet as pq

    assert n == pq.read_metadata(f"{SF}/embeddings.parquet").num_rows
    # layer-0 population is the geometric mode (about half)
    assert rows[0]["layer"] == 0
    assert rows[0]["n_top_here"] > n // 4
    for r in rows:
        assert r["n_expected"] == n // (2 ** (r["layer"] + 1))


def test_ams_f2_unbiasedness_structure(spark):
    """Z is a signed sum over the full vocab: |Z| <= total tokens,
    and the exact F2 is shared by all four estimator rows."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_ams_f2_sketch"].spark_fn(spark, SF).collect()
    assert len(rows) == 4
    exact = rows[0]["exact_f2"]
    assert all(r["exact_f2"] == exact for r in rows)
    for r in rows:
        assert r["est_f2"] == r["z_value"] ** 2
        assert r["err_permille"] >= 0


def test_pps_sample_accounts_every_pick(spark):
    """The 32 pick points each land in exactly one doc interval, so
    total multiplicity is 32; per-doc multiplicity ~ w * k / total."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_pps_systematic_sample"].spark_fn(
        spark, SF).collect()
    assert sum(r["n_picks"] for r in rows) == 32
    total = rows[0]["total"]
    for r in rows:
        # a doc can absorb at most ceil(w * 2k / (2*total/2k))... the
        # loose sanity bound: picks are ~total/k apart, so
        # multiplicity <= w * k / total + 1
        assert r["n_picks"] <= r["w_tokens"] * 32 // total + 1


def test_rouge_l_against_python_dp(spark):
    """The relational prefix-max LCS must equal the textbook O(nm)
    DP on the same capped token sequences."""
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from duckdb_title_mapper_spark.workload import core_queries

    rows = {r["source"]: r for r in
            core_queries()["x_rouge_l"].spark_fn(spark, SF).collect()}
    tbl = pq.read_table(f"{SF}/documents.parquet",
                        columns=["source", "doc_id", "text"]).to_pylist()
    per = defaultdict(list)
    for r in sorted(tbl, key=lambda r: r["doc_id"]):
        per[r["source"]].append(r["text"])

    def lcs(a, b):
        dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                dp[i][j] = max(dp[i - 1][j], dp[i][j - 1],
                               dp[i - 1][j - 1] + (a[i - 1] == b[j - 1]))
        return dp[-1][-1]

    checked = 0
    for source, texts in per.items():
        if len(texts) < 2:
            continue
        a = re.findall(r"\w+", texts[0].lower())[:24]
        b = re.findall(r"\w+", texts[1].lower())[:24]
        r = rows[source]
        assert (r["lcs_len"], r["cand_len"], r["ref_len"]) == \
            (lcs(a, b), len(a), len(b)), source
        checked += 1
    assert checked > 0


def test_dedup_agreement_containment_lattice(spark):
    """Identical text => identical MinHash and SimHash signatures, so
    no cell may have exact_dup=1 with either near-dup flag 0, and
    every doc lands in exactly one cell."""
    import pyarrow.parquet as pq

    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_dedup_agreement_census"].spark_fn(
        spark, SF).collect()
    n = pq.read_metadata(f"{SF}/documents.parquet").num_rows
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        if r["exact_dup"] == 1:
            assert r["minhash_dup"] == 1 and r["simhash_dup"] == 1, r


def test_adaboost_weight_doubling_bounds(spark):
    from duckdb_title_mapper_spark.workload import core_queries

    rows = sorted(core_queries()["x_adaboost_rounds"].spark_fn(
        spark, SF).collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == [1, 2]
    r1, r2 = rows
    # round-2 total weight = n + (misclassified mass doubled once)
    assert r2["total_weight"] == r1["total_weight"] + r1["weighted_error"]
    for r in rows:
        # a stump is never worse than the constant classifier
        assert 2 * r["weighted_error"] <= r["total_weight"]
        assert 0 <= r["polarity"] <= 1


def test_isotonic_fit_is_monotone_and_mass_preserving(spark):
    """PAV theorems: the fitted rates are non-decreasing (exact
    cross-multiplication) and pooled blocks preserve the positive
    mass of the deciles they cover."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = sorted(core_queries()["x_isotonic_calibration"].spark_fn(
        spark, SF).collect(), key=lambda r: r["decile"])
    assert len(rows) == 10
    for a, b in zip(rows, rows[1:]):
        assert a["fitted_num"] * b["fitted_den"] <= \
            b["fitted_num"] * a["fitted_den"]
    # block structure: consecutive deciles sharing a fit share the
    # exact same (num, den); block dens sum to n over their deciles
    seen = {}
    for r in rows:
        key = (r["fitted_num"], r["fitted_den"])
        seen.setdefault(key, [0, 0])
        seen[key][0] += r["n"]
        seen[key][1] += r["n_pos"]
    for (num, den), (n_sum, pos_sum) in seen.items():
        assert n_sum == den and pos_sum == num


def test_media_meta_census_versioning(spark):
    """build_media_meta per lane: cache-hit without force, a fresh
    parquet-backed relation with force under the ``media_meta`` store
    root, and a DataFrame captured before the rebuild still executes.
    The versioning itself is the one store contract
    (tests/test_tmpstore.py)."""
    from duckdb_title_mapper_spark.operators.multimodal import (
        build_media_meta,
    )
    from duckdb_title_mapper_spark.plans.tmpstore import store_root

    d1 = build_media_meta(spark, SF, "aac", force=True)
    assert build_media_meta(spark, SF, "aac") is d1
    pre_rebuild_count = d1.count()
    d3 = build_media_meta(spark, SF, "aac", force=True)
    assert d3 is not d1
    assert all(f.startswith(f"file://{store_root('media_meta')}/")
               for f in d3.inputFiles())
    assert d3.count() == pre_rebuild_count
    assert d1.count() == pre_rebuild_count
    import pytest

    with pytest.raises(ValueError):
        build_media_meta(spark, SF, "mp9")


def test_permutation_test_exact_enumeration(spark):
    """C(12,6) = 924 reassignments; the observed assignment is one of
    them, so n_extreme >= 1; p is its exact permille."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_permutation_test_exact"].spark_fn(
        spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_perms"] == 924
    assert 1 <= r["n_extreme"] <= 924
    assert r["p_permille"] == r["n_extreme"] * 1000 // 924
