"""Staged slice directories for the multi-batch file-stream replays.

Spark's file stream source reads a directory and, under
``maxFilesPerTrigger=1``, replays one file per micro-batch, oldest
modification time first.  A stream that needs a genuine multi-batch
replay (a merge that actually merges, an arrival order an oracle can
reproduce) stages its source table as ``slice_{p}.parquet`` files with
strictly increasing mtimes, so micro-batch p is slice p.

``stage_slices`` is the one implementation of that staging: a caller
builds a DataFrame carrying a ``slice`` column (the reason for its split
lives in the caller's docstring) and the stager does the rest.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from ..plans.tmpstore import store_path


def stage_path(sf_dir: str, table: str, name: str) -> str:
    """The staged dir ``name`` over ``{sf_dir}/{table}.parquet``: one per
    source file (md5 of its real path) under the one staging root.

    The ``_v3`` suffix versions the staged layout: bump it whenever what
    lands in a staged dir changes, so a dir staged by older code can never
    satisfy the ``.staged`` check (v2 moved the events split from
    ``user_id % parts``, which dropped NULL and negative ids, to
    ``pmod(hash(user_id))``; v3 is this stager)."""
    src = os.path.realpath(f"{sf_dir}/{table}.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    return store_path("stream", f"{tag}_{name}_v3")


def stage_slices(d: str, sliced, parts: int) -> str:
    """Stage ``sliced`` into ``d`` as ``parts`` files ``slice_{p}.parquet``
    holding the rows whose ``slice`` column is p (the column itself is
    dropped); return ``d``.

    - A dir that carries the ``.staged`` marker is returned as it is,
      without a Spark job.  The marker is written last, so a stage that
      died half way is redone from scratch.
    - Each slice is one ``coalesce(1)`` write into ``_build_{p}``, whose
      part file is moved to ``slice_{p}.parquet``; the build dir is
      removed.
    - mtimes are stamped strictly increasing in slice order: the file
      stream picks the oldest file first, so micro-batch order IS the
      slice order an arrival-order oracle assumes.
    - The staged rows must equal the source rows.  A slice expression
      that is NULL or outside ``[0, parts)`` for some rows (the r5
      ``user_id % parts`` split dropped NULL and negative ids while the
      batch oracles counted them) raises ``AssertionError`` instead of
      silently shrinking the stream."""
    from pyspark.sql import functions as F

    done = os.path.join(d, ".staged")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    staged = 0
    for p in range(parts):
        one = sliced.where(F.col("slice") == p).drop("slice")
        staged += one.count()
        build = os.path.join(d, f"_build_{p}")
        one.coalesce(1).write.mode("overwrite").parquet(build)
        part = next(f for f in os.listdir(build) if f.endswith(".parquet"))
        os.replace(os.path.join(build, part),
                   os.path.join(d, f"slice_{p}.parquet"))
        shutil.rmtree(build, ignore_errors=True)
    total = sliced.count()
    if staged != total:
        raise AssertionError(
            f"staging {d} lost rows: staged {staged} of {total} — the "
            f"slice expression is not total over [0, {parts})")
    base = time.time()
    for p in range(parts):
        os.utime(os.path.join(d, f"slice_{p}.parquet"), (base + p, base + p))
    with open(done, "w") as f:
        f.write("ok")
    return d


def read_slices(spark, d: str, schema: str):
    """The staged dir ``d`` as a file stream replaying one file per
    micro-batch, in mtime (= slice) order."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d))
