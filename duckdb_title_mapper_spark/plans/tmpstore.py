"""Every directory the engine writes outside Spark's own dirs.

Three kinds, one call each:

- ``versioned_store`` — a cross-query derived relation (the gram census,
  the co-purchase pairs and ranked edges, the level-32 suffix classes,
  the unigram EM chain, the parsed media metadata).  It persists as
  parquet, not checkpoint/persist blocks: bench.py unpersists every
  cached RDD between queries, and a parquet scan survives that, prunes
  columns per consumer and is the shape consumers schedule against at
  scale.
- ``scratch_dir`` — a throwaway dir one query writes and reads back (a
  foreachBatch run, a file-sink or text round trip), removed at
  interpreter exit.
- ``store_path`` — a named dir that outlives the process on purpose
  (the io round-trip tables, and the staged stream sources whose marker
  lets a later process reuse them).

A store's version dirs serve only the process that wrote them (the key
holds the ``applicationId``), so each is queued for removal at
interpreter exit when it is built.  A force-rebuild supersedes a
store's previous version, but Spark DataFrames re-resolve parquet paths
at ACTION time, so a still-live DataFrame or temp view captured from
the superseded version (a consumer's lazily-executed plan, or a view
like ``_r9_av_video`` registered by an earlier query) would fail with
FileNotFound if the dir were removed at once.  Version dirs and scratch
dirs are therefore queued in ``_SUPERSEDED`` and removed only at
interpreter exit; the payloads are small (KB-MB at test SFs), so
holding a handful of generations until exit is the right trade.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

_SUPERSEDED: list[str] = []

# (family, key) -> ({output name: DataFrame}, version)
_STORES: dict = {}


def store_root(family: str) -> str:
    """Root directory of one store family.

    Defaults to ``/tmp/duckdb_title_mapper_spark_<family>`` — correct on
    ``local[N]`` where driver and executors share one filesystem.  On a
    real cluster a driver-local ``/tmp`` is not executor-reachable, so
    ``SPARK_GRAFT_STORE_ROOT`` must point at a shared filesystem (HDFS /
    NFS / object-store mount) and every family resolves beneath it.
    Local behavior is unchanged when the env var is unset."""
    root = os.environ.get("SPARK_GRAFT_STORE_ROOT")
    if root:
        return f"{root.rstrip('/')}/duckdb_title_mapper_spark_{family}"
    return f"/tmp/duckdb_title_mapper_spark_{family}"


def store_path(family: str, name: str) -> str:
    """The persistent dir ``name`` of ``family``; resolved per call, so
    ``SPARK_GRAFT_STORE_ROOT`` set after import still applies."""
    return f"{store_root(family)}/{name}"


def defer_rmtree(path: str) -> None:
    """Queue ``path`` for removal at interpreter exit instead of now."""
    _SUPERSEDED.append(path)


def scratch_dir(prefix: str) -> str:
    """A fresh empty dir under the ``scratch`` root, removed at exit."""
    root = store_root("scratch")
    os.makedirs(root, exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=root)
    defer_rmtree(d)
    return d


def versioned_store(spark, family: str, sf_dir: str, build, *,
                    extra: tuple = (), force: bool = False) -> dict:
    """Fetch, or build and persist, the named outputs of one derived
    relation; return them as ``{name: DataFrame}``.

    The entry is keyed by ``(applicationId, realpath(sf_dir), *extra)``,
    so two spellings of one dir share it and a new session never reuses
    an old one's files.  On a miss, or with ``force``, ``build(put)``
    runs against version ``v+1`` of the entry's dir: ``put(name, df)``
    writes ``df`` to ``<dir>/<name>`` as parquet (leading ``_`` dropped
    from the dir name: Spark treats such paths as hidden) and returns the
    read-back DataFrame, which a later ``put`` of the same build may
    read.  The version dir is queued for removal at exit.  Every
    output is registered as a temp view of its own name, on a hit and
    right after its ``put``.  A hit returns the very DataFrames the
    build returned."""
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir),
           *extra)
    cached = _STORES.get((family, key))
    if cached is not None and not force:
        for name, df in cached[0].items():
            df.createOrReplaceTempView(name)
        return cached[0]
    tag = hashlib.md5(":".join(key).encode()).hexdigest()[:16]
    base = store_root(family)
    version = 0 if cached is None else cached[1] + 1
    vdir = f"{base}/{tag}.v{version}"
    defer_rmtree(vdir)
    outs: dict = {}

    def put(name: str, df):
        path = f"{vdir}/{name.lstrip('_')}"
        df.write.mode("overwrite").parquet(path)
        outs[name] = spark.read.parquet(path)
        outs[name].createOrReplaceTempView(name)
        return outs[name]

    build(put)
    _STORES[(family, key)] = (outs, version)
    return outs


@atexit.register
def _gc_superseded() -> None:
    for p in _SUPERSEDED:
        shutil.rmtree(p, ignore_errors=True)
    _SUPERSEDED.clear()
