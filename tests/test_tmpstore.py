"""The one owner of the engine's written dirs (plans/tmpstore.py): the
versioned cross-query store contract every derived relation relies on,
and the exit-time removal of scratch dirs."""

import os
import subprocess
import sys

from duckdb_title_mapper_spark.plans import tmpstore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _version_dir(df) -> str:
    """``<root>/<tag>.v<n>`` of a DataFrame read back from a store."""
    part = df.inputFiles()[0].removeprefix("file://")
    return os.path.dirname(os.path.dirname(part))


def test_versioned_store_contract(spark, tmp_path, monkeypatch):
    """On a cheap build: a hit returns the same DataFrame and registers
    its view again; ``force`` builds the next version and queues the old
    dir for exit instead of removing it, so a DataFrame captured before
    the rebuild still executes; two spellings of one dir share the
    entry."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path / "store"))
    sf = tmp_path / "sf"
    sf.mkdir()
    calls = []

    def build(put):
        calls.append(1)
        put("__tmpstore_probe", spark.range(5))

    def fetch(sf_dir, force=False):
        return tmpstore.versioned_store(
            spark, "contract", sf_dir, build, force=force)["__tmpstore_probe"]

    a = fetch(str(sf))
    spark.catalog.dropTempView("__tmpstore_probe")
    assert fetch(f"{sf}/") is a
    assert fetch(os.path.join(str(sf), ".")) is a
    assert len(calls) == 1
    assert spark.table("__tmpstore_probe").count() == 5
    old = _version_dir(a)
    assert old.startswith(tmpstore.store_root("contract"))
    assert old.endswith(".v0")

    c = fetch(str(sf), force=True)
    assert c is not a and len(calls) == 2
    assert _version_dir(c) == old[:-1] + "1"
    assert old in tmpstore._SUPERSEDED
    assert os.path.isdir(old)
    assert a.count() == 5
    assert fetch(str(sf)) is c


def test_copurchase_pairs_share_an_entry_across_spellings(spark, sf_dir):
    """A second spelling of the same sf dir is a cache hit.  Keyed on the
    raw string, it missed, rebuilt into the first entry's version dir and
    deleted the files the first DataFrame reads (FILE_NOT_EXIST on its
    next action)."""
    from duckdb_title_mapper_spark.operators.graph import (
        build_copurchase_pairs,
    )

    a = build_copurchase_pairs(spark, os.path.join(sf_dir, "."))
    n = a.count()
    b = build_copurchase_pairs(spark, sf_dir + "/")
    assert a.count() == n
    assert b is a


_FOREACH_BATCH_RUN = """
import os, sys
from pyspark.sql import SparkSession
from duckdb_title_mapper_spark.streaming.sinks import run_foreach_batch

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())
src = sys.argv[1]
spark.range(3).write.parquet(src)
out = run_foreach_batch(
    spark.readStream.schema("id BIGINT").parquet(src),
    lambda out, df, i: df.write.parquet(os.path.join(out, f"b{i}")),
    "dtm_stream_exit_")
assert os.path.isdir(os.path.join(out, "b0"))
print(out)
"""


def test_foreach_batch_dir_is_removed_at_exit(tmp_path):
    """A process that ran a foreachBatch query leaves no run dir behind."""
    store = tmp_path / "store"
    env = dict(os.environ, SPARK_GRAFT_STORE_ROOT=str(store),
               PYTHONPATH=os.pathsep.join(
                   [REPO] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]))
    r = subprocess.run(
        [sys.executable, "-c", _FOREACH_BATCH_RUN, str(tmp_path / "src")],
        env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    out = r.stdout.strip().splitlines()[-1]
    scratch = os.path.join(str(store), "duckdb_title_mapper_spark_scratch")
    assert os.path.dirname(out) == scratch
    assert os.path.basename(out).startswith("dtm_stream_exit_")
    assert not os.path.exists(out)
    assert os.listdir(scratch) == []


_STORE_BUILD = """
import os, sys
from pyspark.sql import SparkSession
from duckdb_title_mapper_spark.plans.tmpstore import versioned_store

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())
out = versioned_store(spark, "exit", sys.argv[1],
                      lambda put: put("__tmpstore_exit", spark.range(3)))
assert out["__tmpstore_exit"].count() == 3
print(os.path.dirname(os.path.dirname(
    out["__tmpstore_exit"].inputFiles()[0].removeprefix("file://"))))
"""


def test_live_store_version_is_removed_at_exit(tmp_path):
    """A process that built a store (never superseded) leaves no
    ``<tag>.v0`` dir behind: no later process can read it, because the
    key holds the writer's ``applicationId``."""
    store = tmp_path / "store"
    env = dict(os.environ, SPARK_GRAFT_STORE_ROOT=str(store),
               PYTHONPATH=os.pathsep.join(
                   [REPO] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]))
    r = subprocess.run(
        [sys.executable, "-c", _STORE_BUILD, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    vdir = r.stdout.strip().splitlines()[-1]
    family = os.path.join(str(store), "duckdb_title_mapper_spark_exit")
    assert os.path.dirname(vdir) == family
    assert vdir.endswith(".v0")
    assert not os.path.exists(vdir)
    assert os.listdir(family) == []
