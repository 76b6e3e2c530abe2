"""The v1 UDF's worker-resident memo: each distinct title reaches the
matching kernel at most once per Python worker, the output is exactly
``match_titles``'s, and eviction never loses an output the current batch
still needs.

The UDF's Python function runs in this process on Arrow string arrays, so
the kernel calls can be counted with a spy; one SQL test runs it in Spark's
workers with small Arrow batches."""

import json
import os
import pickle
import subprocess
import sys

import pyarrow as pa
import pytest

from goldens import AUTHORITATIVE, CORPUS_104, EDGE_CASES

from duckdb_title_mapper_spark.operators import standardize as std

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _arrays(batches):
    return iter(pa.array(b, type=pa.string()) for b in batches)


def _run(func, batches):
    return [out.to_pylist() for out in func(_arrays(batches))]


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
    got = [out.to_pylist() for out in std._standardize_batches((small, kb), _arrays([titles]))]
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


def _env(**extra):
    return dict(os.environ, **extra, PYTHONPATH=os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]))


_NO_PANDAS_BODY = """
import json, pickle, sys
sys.modules["pandas"] = None  # any import of pandas now raises
import pyarrow as pa
from duckdb_title_mapper_spark.operators import standardize as std

with open(sys.argv[1], "rb") as f:
    value = pickle.load(f)
with pa.ipc.open_stream(sys.argv[2]) as r:
    arrays = [b.column(0) for b in r]
print(json.dumps([out.to_pylist() for out in std._standardize_batches(value, iter(arrays))]))
"""


def test_body_runs_without_pandas(tmp_path):
    """The scoring body, the module and the unpickled ``(index, kb)``
    value need no pandas: a Python worker that runs them never imports
    it."""
    titles = list(AUTHORITATIVE) + [None, ""]
    with open(tmp_path / "value.pkl", "wb") as f:
        pickle.dump((std.get_index(), std.load_kb()), f)
    batch = pa.record_batch([pa.array(titles, type=pa.string())], names=["title"])
    with pa.ipc.new_stream(str(tmp_path / "titles.arrow"), batch.schema) as w:
        w.write_batch(batch)
        w.write_batch(batch.slice(5))
    r = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS_BODY, str(tmp_path / "value.pkl"),
         str(tmp_path / "titles.arrow")],
        env=_env(), capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    want = [AUTHORITATIVE[t] for t in AUTHORITATIVE] + [None, EDGE_CASES[""]]
    assert json.loads(r.stdout.strip().splitlines()[-1]) == [want, want[5:]]


_WORKER_MODULES = """
import sys
from pyspark.sql import SparkSession

import duckdb_title_mapper_spark as engine
from duckdb_title_mapper_spark.operators.standardize import standardize_titles_df
from duckdb_title_mapper_spark.streaming import run_to_memory, standardize_stream

sf_dir, out = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
engine.register(spark)
titles = spark.sql("SELECT * FROM VALUES ('poet'), (NULL), (''), ('robotics engineer') AS t(title)")
assert titles.selectExpr("standardize_title(title) AS s").count() == 4
assert len(standardize_titles_df(spark, titles, "title").collect()) == 4
assert run_to_memory(standardize_stream(spark, sf_dir)).count() > 0


def probe(batches):
    import os, sys
    for b in batches:
        with open(os.path.join(out, str(os.getpid())), "w") as f:
            f.write(" ".join(str(m in sys.modules) for m in (
                "duckdb_title_mapper_spark.operators.standardize", "pandas")))
        yield b


spark.range(0, 64, 1, 16).mapInArrow(probe, "id BIGINT").collect()
"""


def test_standardize_workers_never_import_pandas(tmp_path, sf_dir):
    """In a fresh session that ran the v1 UDF, the v2 form and the
    stream, every Python worker that loaded the standardize module has
    no pandas module."""
    out = tmp_path / "probe"
    out.mkdir()
    r = subprocess.run(
        [sys.executable, "-c", _WORKER_MODULES, sf_dir, str(out)],
        env=_env(SPARK_GRAFT_STORE_ROOT=str(tmp_path / "store")),
        capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    workers = {pid: (out / pid).read_text() for pid in os.listdir(out)}
    ran = [pid for pid, flags in workers.items() if flags.startswith("True")]
    assert ran, workers
    assert all(workers[pid] == "True False" for pid in ran), workers
