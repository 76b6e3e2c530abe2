"""Semantic invariants for the round-11 work (beyond the oracle
value-compare in test_oracle_parity), starting with the streaming
image-dedup at-least-once retry contract the r10 advice flagged."""

import os

SF = "/root/testdata/sf0.001"


def test_image_dedup_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch retry contract: re-running a batch whose
    ``bands.b{id}`` dir was already written (attempt crashed after
    the bands write, before the checkpoint commit) must rewrite
    BYTE-IDENTICAL flags — the prior attempt's own bands must not be
    probed as 'earlier arrivals' (which would self-match every doc at
    Hamming 0 and flip the whole batch to dup-on-arrival)."""
    from pyspark.sql import functions as F

    from duckdb_title_mapper_spark.streaming.sinks import (
        _image_dedup_merge_batch)

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "source")
    )
    batch0 = docs.where(F.col("doc_id") % 4 == 0)
    batch1 = docs.where(F.col("doc_id") % 4 == 1)
    out = str(tmp_path)

    def flags(bid):
        rows = spark.read.parquet(
            os.path.join(out, f"flags.b{bid}")).collect()
        return sorted((r["doc_id"], r["is_dup"]) for r in rows)

    _image_dedup_merge_batch(out, batch0, 0)
    _image_dedup_merge_batch(out, batch1, 1)
    first = flags(1)
    # retry: bands.b1 now exists on disk, exactly the half-committed
    # state a foreachBatch redelivery sees
    assert os.path.isdir(os.path.join(out, "bands.b1"))
    _image_dedup_merge_batch(out, batch1, 1)
    assert flags(1) == first
    # and the flags are not degenerate: self-matching would make every
    # doc a dup; the planted dHash groups guarantee SOME dups exist
    n_dup = sum(d for _, d in first)
    assert 0 < n_dup < len(first)


def test_hnsw_search_planted_twin_recall(spark):
    """The ANN family's quality contract (test_ann_scaled discipline):
    on a planted corpus where each base vector has a near-identical
    twin, the graph search must recover the twin at rank 1 for every
    query — and mark it exact_rank 1 (the in-row recall companion)."""
    import numpy as np
    import pandas as pd

    from duckdb_title_mapper_spark.workload import _hnsw_search_sql

    rng = np.random.RandomState(0)
    n_base, dim = 120, 64
    base = rng.normal(size=(n_base, dim))
    base /= np.linalg.norm(base, axis=1)[:, None]
    twin = base + rng.normal(scale=0.02, size=base.shape)
    twin /= np.linalg.norm(twin, axis=1)[:, None]
    ids = list(range(n_base)) + [i + 10000 for i in range(n_base)]
    pdf = pd.DataFrame({
        "vec_id": pd.Series(ids, dtype="int64"),
        "label": pd.Series([0] * len(ids), dtype="int32"),
        "embedding": [r.astype(np.float32).tolist()
                      for r in np.vstack([base, twin])],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("embeddings")
    rows = spark.sql(_hnsw_search_sql(True)).collect()
    top1 = {r.query_id: r for r in rows if r.rank == 1}
    for q in range(8):
        assert top1[q].neighbor_id == q + 10000, (q, top1[q])
        assert top1[q].exact_rank == 1


def test_hnsw_search_structure_on_driver_data(spark):
    """Shape invariants on the real corpus: 8 queries x exactly 3
    ranks, neighbor != query, exact_rank in {-1, 1, 2, 3}."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_hnsw_search"].spark_fn(spark, SF).collect()
    assert len(rows) == 24
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
        assert r.neighbor_id != r.query_id
        assert r.exact_rank in (-1, 1, 2, 3)
    assert sorted(by_q) == list(range(8))
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


def test_inference_queue_matches_direct_lindley_recursion(spark):
    """The closed form W_n = C_n - min(0, running-min C) must equal
    the literal recursion W_n = max(0, W_{n-1} + S_{n-1} - A_n)
    replayed in Python over the same arrival order."""
    import hashlib

    from duckdb_title_mapper_spark.workload import (
        core_queries, register_views)

    register_views(spark, SF, "events")
    ev = spark.sql(
        "SELECT event_type, event_id, unix_micros(ts) AS us"
        " FROM events").collect()
    by_type = {}
    for r in sorted(ev, key=lambda r: (r.event_type, r.us, r.event_id)):
        by_type.setdefault(r.event_type, []).append(r)
    expect = {}
    for et, rows in by_type.items():
        w = prev_svc = 0
        tot = mx = delayed = busy = 0
        prev_us = None
        for r in rows:
            h = int(hashlib.md5(str(r.event_id).encode())
                    .hexdigest()[:8], 16)
            svc = 1000 + h % 9000
            if prev_us is not None:
                w = max(0, w + prev_svc - (r.us - prev_us))
            tot += w
            mx = max(mx, w)
            delayed += 1 if w > 0 else 0
            busy += svc
            prev_us, prev_svc = r.us, svc
        expect[et] = (len(rows), delayed, tot, mx, busy)
    got = core_queries()["x_inference_queue_wait"].spark_fn(
        spark, SF).collect()
    for r in got:
        assert expect[r.event_type] == (
            r.n_requests, r.n_delayed, r.total_wait_us, r.max_wait_us,
            r.busy_us), r.event_type


def test_annotator_kappa_identities(spark):
    """Confusion cells partition the corpus; kappa rational identities
    hold: den = N^2 - chance, num = N*agree - chance, |kappa| <= 1."""
    from duckdb_title_mapper_spark.workload import core_queries

    r = core_queries()["x_annotator_kappa"].spark_fn(spark, SF).collect()
    assert len(r) == 1
    r = r[0]
    n = r.n_docs
    assert r.n11 + r.n10 + r.n01 + r.n00 == n
    a1, b1 = r.n11 + r.n10, r.n11 + r.n01
    chance = a1 * b1 + (n - a1) * (n - b1)
    assert r.kappa_den == n * n - chance
    assert r.kappa_num == n * (r.n11 + r.n00) - chance
    assert abs(r.kappa_num) <= r.kappa_den


def test_loop_detect_matches_python_replay(spark):
    """Island-window run lengths must equal a direct Python scan of
    the token streams."""
    import re

    from duckdb_title_mapper_spark.workload import core_queries

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text").collect()
    per_source = {}
    for d in docs:
        toks = re.findall(r"\w+", d.text.lower())
        mr = ma = 1
        run = 1
        for i in range(1, len(toks)):
            run = run + 1 if toks[i] == toks[i - 1] else 1
            mr = max(mr, run)
        arun = 2 if len(toks) >= 2 else 1
        best = 1
        for i in range(2, len(toks)):
            arun = arun + 1 if toks[i] == toks[i - 2] else 2
            best = max(best, arun)
        ma = best if len(toks) >= 3 and best >= 3 else 1
        # SQL counts an island of m lag-2 equalities as m+2 tokens and
        # reports 1 when no equality exists
        s = per_source.setdefault(
            d.source, {"n": 0, "mr": 1, "ma": 1, "r3": 0, "a4": 0})
        s["n"] += 1
        s["mr"] = max(s["mr"], mr)
        s["ma"] = max(s["ma"], ma)
        s["r3"] += 1 if mr >= 3 else 0
        s["a4"] += 1 if ma >= 4 else 0
    rows = core_queries()["x_generation_loop_detect"].spark_fn(
        spark, SF).collect()
    assert len(rows) == len(per_source)
    for r in rows:
        e = per_source[r.source]
        assert (r.n_docs, r.max_rep_run, r.n_docs_rep_ge3,
                r.max_alt_run, r.n_docs_alt_ge4) == (
            e["n"], e["mr"], e["r3"], e["ma"], e["a4"]), r.source


def test_shuffle_audit_invariants(spark):
    """Run/adjacency identities: adjacent-same = N - #runs in both
    orders; expectation rational uses the per-source counts."""
    from duckdb_title_mapper_spark.workload import core_queries

    r = core_queries()["x_epoch_shuffle_audit"].spark_fn(
        spark, SF).collect()[0]
    assert r.expected_same_den == r.n_docs
    assert 0 <= r.adj_same_natural < r.n_docs
    assert 0 <= r.adj_same_shuffled < r.n_docs
    assert 1 <= r.max_run_natural <= r.adj_same_natural + 1
    assert 1 <= r.max_run_shuffled <= r.adj_same_shuffled + 1
    import pyarrow.parquet as pq

    assert r.n_docs == pq.read_metadata(
        f"{SF}/documents.parquet").num_rows


def test_safetensors_codec_validates_integrity():
    import pytest

    from duckdb_title_mapper_spark.sources.safetensors import (
        build_safetensors, read_safetensors)

    tensors = [
        ("a.weight", "F32", (2, 3), b"\x01" * 24),
        ("b.bias", "I64", (4,), b"\x02" * 32),
    ]
    blob = build_safetensors(tensors)
    back = read_safetensors(blob)
    assert [(t["name"], t["n_bytes"]) for t in back] == [
        ("a.weight", 24), ("b.bias", 32)]
    assert back[0]["begin"] == 0 and back[1]["begin"] == 24
    # determinism
    assert build_safetensors(tensors) == blob
    # wrong payload size refused at build
    with pytest.raises(ValueError):
        build_safetensors([("x", "F32", (2, 2), b"\x00" * 15)])
    # span-arithmetic violation refused at read
    bad = blob.replace(b'"shape":[2,3]', b'"shape":[2,2]')
    with pytest.raises(ValueError):
        read_safetensors(bad)
    # truncated buffer refused
    with pytest.raises(ValueError):
        read_safetensors(blob[:-4])


def test_needle_depth_anchors_are_nearest_dots(spark):
    """Replay a sample of docs in Python: the chosen insert_off must
    be a '.' position minimizing |pos - target| (earlier on ties)."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_needle_depth_manifest"].spark_fn(
        spark, SF).collect()
    docs = {d.doc_id: d.text for d in spark.read.parquet(
        f"{SF}/documents.parquet").select("doc_id", "text").collect()}
    assert len(rows) == 5 * len(docs)
    for r in rows[:200]:
        text = docs[r.doc_id]
        dots = [i + 1 for i, ch in enumerate(text) if ch == "."]
        target = r.depth_pct * len(text) // 100
        assert r.target == target and r.n_chars == len(text)
        if not dots:
            assert r.insert_off == -1 and r.boundary_dist == -1
        else:
            best = min(dots, key=lambda p: (abs(p - target), p))
            assert r.insert_off == best
            assert r.boundary_dist == abs(best - target)


def test_stream_queue_wait_matches_batch_closed_form(spark):
    """The stateful streaming fold must equal the batch query on
    every column — the cross-boundary certification."""
    from duckdb_title_mapper_spark.workload import core_queries

    batch = {r.event_type: r for r in core_queries()[
        "x_inference_queue_wait"].spark_fn(spark, SF).collect()}
    stream = core_queries()["stream_queue_wait"].spark_fn(
        spark, SF).collect()
    assert len(stream) == len(batch)
    for r in stream:
        b = batch[r.event_type]
        assert (r.n_requests, r.n_delayed, r.total_wait_us,
                r.max_wait_us, r.busy_us, r.utilization_permille) == (
            b.n_requests, b.n_delayed, b.total_wait_us, b.max_wait_us,
            b.busy_us, b.utilization_permille), r.event_type


def test_avro_codec_roundtrip_and_framing():
    import pytest

    from duckdb_title_mapper_spark.sources import avro

    recs = [(i, f"body {i} " * (i % 4 + 1)) for i in range(70)]
    blob = avro.build_avro_container("s3", recs)
    back = avro.read_avro_container(blob)
    assert back["records"] == recs
    assert back["n_blocks"] == 3
    assert back["schema"] == avro.SCHEMA_JSON
    assert avro.build_avro_container("s3", recs) == blob  # determinism
    with pytest.raises(ValueError):
        avro.read_avro_container(blob[:-5])  # torn block
    with pytest.raises(ValueError):
        avro.read_avro_container(b"Obj\x02" + blob[4:])  # bad magic
    corrupted = bytearray(blob)
    corrupted[-8] ^= 0xFF  # flip a sync-marker byte
    with pytest.raises(ValueError):
        avro.read_avro_container(bytes(corrupted))
    # varint-length closed form matches real encodings
    for v in (0, 63, 64, 8191, 8192, 2**27 - 1, 2**27, 2**40):
        assert avro.varint_len_nonneg(v) == len(avro.write_long(v))


def test_pass_at_k_matches_comb_formula(spark):
    """The falling-factorial rationals must equal math.comb's
    1 - C(n-c,k)/C(n,k) exactly."""
    from math import comb

    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_pass_at_k"].spark_fn(spark, SF).collect()
    assert rows
    from fractions import Fraction

    for r in rows:
        n, c = r.n_samples, r.n_correct
        assert n == 16 and 0 <= c <= n
        for k in (1, 5, 10):
            num = getattr(r, f"pass{k}_num")
            den = getattr(r, f"pass{k}_den")
            expect = 1 - Fraction(comb(n - c, k), comb(n, k)) \
                if n - c >= k else Fraction(1)
            assert Fraction(num, den) == expect, (r.source, k)


def test_brier_identities(spark):
    """den = 10^6 n; num bounded by den (p and y in range); the
    correlated construction keeps the score well under the 0.25
    uninformed-predictor ceiling."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_brier_score"].spark_fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.brier_den == r.n_preds * 1_000_000
        assert 0 <= r.brier_num <= r.brier_den
        assert 0 < r.n_positive < r.n_preds
        assert r.brier_num * 4 < r.brier_den  # < 0.25


def test_heaps_law_monotone_and_bounded(spark):
    """Vocab size is nondecreasing in tokens_seen, bounded by
    tokens_seen, and the final checkpoint equals the true global
    vocabulary."""
    import re

    from duckdb_title_mapper_spark.workload import core_queries

    rows = sorted(core_queries()["x_heaps_law_checkpoints"].spark_fn(
        spark, SF).collect(), key=lambda r: r.tokens_seen)
    assert rows
    for a, b in zip(rows, rows[1:]):
        assert a.vocab_size <= b.vocab_size
        assert a.vocab_size <= a.tokens_seen
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "text").collect()
    vocab = set()
    total = 0
    for d in docs:
        ts = re.findall(r"\w+", d.text.lower())
        total += len(ts)
        vocab.update(ts)
    assert rows[-1].tokens_seen == total
    assert rows[-1].vocab_size == len(vocab)


def test_gini_concentration_bounds(spark):
    """0 <= G < 1 and mass/term identities hold per source."""
    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_gini_concentration"].spark_fn(
        spark, SF).collect()
    assert rows
    for r in rows:
        assert r.gini_den == r.n_terms * r.token_mass
        assert 0 <= r.gini_num < r.gini_den
        assert r.n_terms <= r.token_mass


def test_rake_keywords_structure(spark):
    """Per-source top-3 with deterministic ranks; no stopword appears
    inside any extracted phrase; phrase word counts respect the 4-word
    cap and match the phrase text."""
    from duckdb_title_mapper_spark.workload import (
        _RAKE_STOPWORDS, core_queries)

    rows = core_queries()["x_rake_keywords"].spark_fn(
        spark, SF).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.rank)
        words = r.phrase.split(" ")
        assert 1 <= r.n_words <= 4
        assert len(words) == r.n_words
        assert not set(words) & set(_RAKE_STOPWORDS), r.phrase
        assert r.score_milli > 0 and r.n_instances >= 1
    assert all(sorted(v) == [1, 2, 3] for v in by_src.values())


def test_knn_classifier_against_python_replay(spark):
    """Majority vote, tie -> smallest label, must match a direct
    numpy replay with the same dimension-sequential distance fold."""
    from collections import Counter

    import numpy as np

    from duckdb_title_mapper_spark.workload import core_queries

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in vecs])
    labels = {r.vec_id: r.label for r in vecs}
    m = np.stack([np.asarray(r.embedding, dtype=np.float64)
                  for r in vecs])
    order = np.argsort(ids)
    ids, m = ids[order], m[order]
    rows = core_queries()["x_knn_classifier"].spark_fn(
        spark, SF).collect()
    assert len(rows) == min(32, (ids < 32).sum())
    for r in rows:
        qi = int(np.where(ids == r.query_id)[0][0])
        acc = np.zeros(len(ids))
        for d in range(m.shape[1]):
            diff = m[:, d] - m[qi, d]
            acc += diff * diff
        cand = [(acc[i], ids[i]) for i in range(len(ids))
                if ids[i] != r.query_id]
        top5 = [labels[v] for _, v in sorted(cand)[:5]]
        counts = Counter(top5)
        best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
        assert r.true_label == labels[r.query_id]
        assert (r.pred_label, r.n_votes) == (best[0], best[1]), r
        assert r.is_correct == (1 if r.pred_label == r.true_label
                                else 0)


def test_silhouette_partitions_all_points(spark):
    """Decile counts partition the corpus; deciles lie in [0, 10]
    (nearest-assignment makes s nonnegative by construction)."""
    import pyarrow.parquet as pq

    from duckdb_title_mapper_spark.workload import core_queries

    rows = core_queries()["x_silhouette_simplified"].spark_fn(
        spark, SF).collect()
    n = pq.read_metadata(f"{SF}/embeddings.parquet").num_rows
    assert sum(r.n_points for r in rows) == n
    for r in rows:
        assert 0 <= r.s_decile <= 10
        assert 0 <= r.cluster < 16


def test_stream_vocab_arrival_identities(spark):
    """4 batches; new terms bounded by batch distinct terms; cum_vocab
    is the running sum and ends at the true global vocabulary."""
    import re

    from duckdb_title_mapper_spark.workload import core_queries

    rows = sorted(core_queries()["stream_vocab_arrival"].spark_fn(
        spark, SF).collect(), key=lambda r: r.batch_id)
    assert [r.batch_id for r in rows] == [0, 1, 2, 3]
    run = 0
    for r in rows:
        assert 0 <= r.n_new_terms <= r.n_batch_terms <= r.n_tokens
        run += r.n_new_terms
        assert r.cum_vocab == run
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "text").collect()
    vocab = set()
    for d in docs:
        vocab.update(re.findall(r"\w+", d.text.lower()))
    assert rows[-1].cum_vocab == len(vocab)


def test_spearman_matches_scipy_free_replay(spark):
    """Exact rationals must reproduce textbook Spearman (Pearson on
    midranks) computed directly in Python with Fractions."""
    from fractions import Fraction

    from duckdb_title_mapper_spark.workload import (
        core_queries, register_views)

    register_views(spark, SF, "events")
    rows = spark.sql(
        "SELECT unix_micros(ts) div 3600000000 AS hr,"
        " sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,"
        " sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        " AS y FROM events GROUP BY hr").collect()
    xs = [r.x for r in rows]
    ys = [r.y for r in rows]

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        out = [0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mr = Fraction(i + 1 + j, 2)  # (lo + hi) / 2
            for t in range(i, j):
                out[order[t]] = mr
            i = j
        return out

    rx, ry = midranks(xs), midranks(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    r = core_queries()["x_spearman_corr"].spark_fn(spark, SF).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_hours == n
    # the query's doubled ranks scale num by 4 and each variance by 4
    assert Fraction(r.rho_num, 4) == n * sxy - sx * sy
    assert Fraction(r.var_x, 4) == n * sxx - sx * sx
    assert Fraction(r.var_y, 4) == n * syy - sy * sy


def test_warc_codec_roundtrip_and_framing():
    from duckdb_title_mapper_spark.sources import warc

    recs = [warc.build_warcinfo("web")] + [
        warc.build_conversion("web", i, f"doc {i} body " * (i + 1))
        for i in range(4)]
    gz = warc.build_warc_gz(recs)
    back = warc.read_warc_gz(gz)
    assert [r["type"] for r in back] == ["warcinfo"] + ["conversion"] * 4
    assert back[2]["uri"] == "https://corpus.example/web/1"
    assert back[2]["block"].decode() == "doc 1 body " * 2
    # determinism (the oracle contract): identical inputs, identical bytes
    assert warc.build_warc_gz(recs) == gz
    # closed-form sizes the SQL oracle recomputes
    text = "doc 1 body " * 2
    n = len(text.encode())
    assert len(warc.build_conversion("web", 1, text)) == (
        warc.CONV_FIXED_BYTES + len("web") + len("1") + len(str(n)) + n)
    assert len(warc.build_warcinfo("a-much-longer-source")) == \
        warc.INFO_BYTES


def test_warc_reader_rejects_torn_and_malformed():
    import pytest

    from duckdb_title_mapper_spark.sources import warc

    rec = warc.build_conversion("s", 7, "hello")
    gz = warc.build_warc_gz([rec])
    with pytest.raises(ValueError):
        warc.read_warc_gz(gz[:-3])  # torn gzip member
    with pytest.raises(ValueError):
        warc.parse_warc_record(b"WARC/0.9\r\n\r\n\r\n\r\n")  # bad version
    with pytest.raises(ValueError):
        warc.parse_warc_record(rec[:-2])  # missing CRLF CRLF trailer
    # Content-Length lies short -> trailer check must fail loudly
    bad = rec.replace(b"Content-Length: 5", b"Content-Length: 3")
    with pytest.raises(ValueError):
        warc.parse_warc_record(bad)
