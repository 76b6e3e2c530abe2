"""The v1 UDF's worker-resident memo: each distinct title reaches the
matching kernel at most once per Python worker, the output is exactly
``match_titles``'s, and eviction never loses an output the current batch
still needs.

The UDF's Python function runs in this process on pandas Series, so the
kernel calls can be counted with a spy; one SQL test runs it in Spark's
workers with small Arrow batches."""

import pandas as pd
import pytest

from goldens import AUTHORITATIVE, CORPUS_104, EDGE_CASES

from duckdb_title_mapper_spark.operators import standardize as std


@pytest.fixture
def udf(spark, monkeypatch):
    """``(func, scored)``: the registered UDF's Python function over the
    session's broadcast, with an empty memo, and the list of titles the
    kernel scored."""
    monkeypatch.setattr(std, "_MEMO", {})
    monkeypatch.setattr(std, "_MEMO_OWNER", None)
    scored = []
    kernel = std.best_match_indices

    def spy(index, texts):
        scored.extend(texts)
        return kernel(index, texts)

    monkeypatch.setattr(std, "best_match_indices", spy)
    return std.make_standardize_udf(spark).func, scored


def _run(func, batches):
    return [list(out) for out in func(iter(pd.Series(b, dtype=object) for b in batches))]


def _expected(batches, index=None, kb=None):
    """``match_titles`` per row (its kernel calls reach the spy too, so
    read the spy before calling this)."""
    return [[None if t is None else std.match_titles([t], index, kb)[0] for t in b]
            for b in batches]


def test_memo_output_equals_match_titles(udf):
    func, _ = udf
    titles = list(CORPUS_104)
    batches = [titles[:40] + [None] + titles[:10], titles[30:] + titles[::7], titles[::-1]]
    assert _run(func, batches) == _expected(batches)


def test_memo_scores_each_distinct_title_once(udf):
    func, scored = udf
    titles = list(AUTHORITATIVE)
    batches = [titles * 3, titles[::-1] + [None] * 2, titles[:2] * 5]
    got = _run(func, batches)
    # a second call is a later task in the same worker
    again = _run(func, [titles])
    assert sorted(scored) == sorted(titles)
    assert got == _expected(batches)
    assert again == [[AUTHORITATIVE[t] for t in titles]]


def test_memo_null_all_null_and_empty_batches(udf):
    func, scored = udf
    assert _run(func, [[None, None, None], [], ["poet", None]]) == [
        [None, None, None], [], ["Poet - Writers and Authors", None]]
    assert scored == ["poet"]


def test_memo_empty_and_whitespace_titles(udf):
    func, _ = udf
    batches = [["", "   ", "\t", "", "12345"], ["   ", ""]]
    got = _run(func, batches)
    assert got == _expected(batches)
    assert got[0][0] == EDGE_CASES[""]


def test_memo_resets_on_new_index(udf):
    """A memo filled from one broadcast value is never read for another:
    a smaller index (first 500 KB variants) gives other answers."""
    func, scored = udf
    kb = std.load_kb()
    small = std.build_index(list(kb.corpus[:500]))
    titles = list(CORPUS_104)
    full = _run(func, [titles])
    got = [list(out) for out in std._standardize_batches(
        (small, kb), iter([pd.Series(titles, dtype=object)]))]
    assert len(scored) == 2 * len(titles)
    assert got == _expected([titles], small, kb)
    assert got != full


def test_memo_batch_with_more_misses_than_bound(udf, monkeypatch):
    func, _ = udf
    monkeypatch.setattr(std, "_MEMO_MAX", 3)
    titles = list(CORPUS_104)[:10]
    batches = [titles + titles[::-1] + [None]]
    assert _run(func, batches) == _expected(batches)
    assert len(std._MEMO) <= 3


def test_memo_hits_and_misses_straddle_a_clear(udf, monkeypatch):
    """The second batch's hits are in the memo when it is cleared to make
    room for its misses; the batch still gets every output."""
    func, scored = udf
    monkeypatch.setattr(std, "_MEMO_MAX", 4)
    titles = list(CORPUS_104)[:6]
    batches = [titles[:3], titles[:2] + titles[3:] + titles[:3], titles[3:]]
    got = _run(func, batches)
    assert scored == titles
    assert len(std._MEMO) <= 4
    assert got == _expected(batches)


def test_forms_share_one_broadcast_per_context(spark, monkeypatch):
    sc = spark.sparkContext
    bc = std._broadcast(spark)
    calls = []
    monkeypatch.setattr(sc, "broadcast", lambda v: calls.append(v))
    df = spark.createDataFrame([("poet",)], "title STRING")
    std.standardize_titles_df(spark, df, "title")
    std.make_standardize_udf(spark.newSession())
    assert calls == []
    assert std._broadcast(spark) is bc


def test_sql_repeated_titles_small_batches(spark):
    """Many Arrow batches per task, each title repeated across them: the
    workers' memos serve most rows and the answers stay the goldens."""
    import duckdb_title_mapper_spark as engine

    engine.register(spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        titles = list(AUTHORITATIVE) * 20 + [None] * 5
        df = spark.createDataFrame([(t,) for t in titles], "title STRING").repartition(3)
        df.createOrReplaceTempView("memo_titles")
        rows = spark.sql(
            "SELECT title, standardize_title(title) AS s FROM memo_titles").collect()
    finally:
        spark.conf.set(key, prev)
    assert len(rows) == len(titles)
    assert all(r.s == (None if r.title is None else AUTHORITATIVE[r.title]) for r in rows)
