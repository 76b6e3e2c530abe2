"""Distributed k-means (Lloyd) over an embedding column.

The reference has no clustering (its surface is one scalar function,
src/lib.rs:72-86); this supplies the iterative-algorithm capability a
training-data pipeline needs (IVF coarse quantizers, dedup cluster
seeds, corpus stratification).

Shape per iteration — the one that scales to 100 TB:
- centroids live on the DRIVER (k x dim doubles, bounded) and ship to
  executors inside the plan (literal array-of-structs for the SQL
  kernel, closure constants for the Arrow kernel), so the assignment is
  MAP-SIDE ONLY: argmin by squared L2 with ties to the lowest centroid
  id (same contract as the x_kmeans_step_i oracle), no join, no shuffle,
  the big side never moves.  The default Arrow/numpy kernel accumulates
  dimension-sequentially, so its doubles are bit-identical to the SQL
  higher-order-function kernel (kernel parity is test-locked).
- the update aggregates per-(cid, dim) coordinate sums + counts after a
  posexplode — mergeable partials, so the shuffle carries at most
  k * dim rows per partition, independent of input size.

One driver-side ``collect()`` per round of exactly k*dim doubles is the
algorithm's irreducible synchronization point, not a scale bug.
"""

from __future__ import annotations


def _assign_expr(centroids: list[list[float]], vec_col: str) -> str:
    """Nearest-centroid struct as one SQL expression.  Centroid floats
    are embedded as ``D``-suffixed literals (repr -> correctly-rounded
    double) — never ``spark.createDataFrame`` (Python-RDD source costs
    ~4 s per action on the non-Arrow worker chain)."""
    structs = ", ".join(
        "struct({cid} AS cid, array({vals}) AS v)".format(
            cid=cid, vals=", ".join(f"{x!r}D" for x in vec)
        )
        for cid, vec in enumerate(centroids)
    )
    l2 = (
        f"aggregate(zip_with({vec_col}, c.v, (x, y) ->"
        " (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, vv) -> acc + vv)"
    )
    return (
        f"array_min(transform(array({structs}),"
        f" c -> struct({l2} AS d, c.cid AS cid)))"
    )


def assign_to_centroids(spark, df, centroids, vec_col: str = "embedding",
                        kernel: str = "pandas"):
    """Add ``__cid``/``__dist`` (nearest centroid by squared L2, ties to
    the lowest id) to ``df`` — map-side only, no shuffle.

    ``kernel="pandas"`` (default): Arrow-batched numpy with
    DIMENSION-SEQUENTIAL accumulation — the per-dim additions run in the
    same order as the SQL fold, so the doubles (and therefore every
    argmin) are bit-identical to ``kernel="sql"``, while evaluating
    ~50x faster than Spark's interpreted higher-order lambdas (k*dim
    interpreted ops per row).  ``np.argmin`` returns the FIRST minimum,
    matching the struct-min lowest-cid tiebreak."""
    from pyspark.sql import functions as F

    if kernel == "sql":
        m = F.expr(_assign_expr(centroids, vec_col))
        return df.withColumn("__m", m).select(
            *df.columns,
            F.col("__m.cid").alias("__cid"),
            F.col("__m.d").alias("__dist"),
        )

    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cents = [np.asarray(c, dtype=np.float64) for c in centroids]
    # fresh StructType — StructType.add MUTATES, and df.schema is cached,
    # so chaining .add on it corrupts the source DataFrame's schema
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("__cid", IntegerType()),
           StructField("__dist", DoubleType())]
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            dists = np.empty((len(pdf), len(cents)), dtype=np.float64)
            for ci, c in enumerate(cents):
                acc = np.zeros(len(pdf), dtype=np.float64)
                for j in range(x.shape[1]):  # fold order = SQL fold order
                    diff = x[:, j] - c[j]
                    acc += diff * diff
                dists[:, ci] = acc
            best = dists.argmin(axis=1)
            pdf = pdf.copy()
            pdf["__cid"] = best.astype("int32")
            pdf["__dist"] = dists[np.arange(len(pdf)), best]
            yield pdf

    return df.mapInPandas(_assign, schema=out_schema)


def kmeans_lloyd(spark, df, vec_col: str = "embedding", k: int = 16,
                 max_iter: int = 5, tol: float = 1e-6):
    """Fit k-means; returns (assignments DataFrame, centroids, inertias).

    Seeds are the first k rows in ascending order of the first column
    (deterministic, matching the x_kmeans_step_i oracle's ``vec_id < k``
    seeds when called on the embeddings table)."""
    from pyspark.sql import functions as F

    id_col = df.columns[0]
    seeds = (
        df.orderBy(id_col).limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    centroids = [list(r.v) for r in seeds]
    inertias: list[float] = []

    for _ in range(max_iter):
        assigned = assign_to_centroids(spark, df, centroids, vec_col)
        upd = (
            assigned.select(
                "__cid", "__dist",
                F.posexplode(F.col(vec_col)).alias("d", "x"),
            )
            .groupBy("__cid", "d")
            .agg(
                F.sum(F.col("x").cast("double")).alias("s"),
                F.count("*").alias("n"),
                # per-row inertia contribution counted once (at dim 0)
                F.sum(
                    F.when(F.col("d") == 0, F.col("__dist")).otherwise(0.0)
                ).alias("dist0"),
            )
            .collect()
        )
        new = [list(c) for c in centroids]
        inertia = 0.0
        for r in upd:
            new[r["__cid"]][r["d"]] = r["s"] / r["n"]
            inertia += r["dist0"]
        inertias.append(inertia)
        shift = max(
            abs(a - b)
            for vec_new, vec_old in zip(new, centroids)
            for a, b in zip(vec_new, vec_old)
        )
        centroids = new
        if shift <= tol:
            break

    return assign_to_centroids(spark, df, centroids, vec_col), centroids, inertias
