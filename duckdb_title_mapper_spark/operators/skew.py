"""Skew-resilient join: salting for hot keys.

AQE's skew-join handling splits oversized *partitions*, but a single
pathological key (one user with 10^9 events joining a per-user dim) still
lands every row on one reducer.  Salting fixes the key itself:

* fact side: append a random-ish salt in ``[0, buckets)`` derived
  deterministically from a row id (no RNG — reruns give identical plans
  and results);
* dim side: explode each row into all ``buckets`` salt values;
* join on (key, salt): the hot key now spreads over ``buckets`` reducers.

The dim side grows ``buckets``×, which is the explicit trade: use for
small/medium dims against skewed facts.  Result set is exactly the plain
join's (oracle-checked by ``rel_salted_join_i``).
"""

from __future__ import annotations


def salted_join(fact_df, dim_df, key: str, buckets: int = 8,
                fact_row_id: str | None = None):
    """Inner-join ``fact_df`` ⋈ ``dim_df`` on ``key`` with salt spreading.

    ``fact_row_id``: any column whose value distributes rows (an id,
    offset, hash input).  Defaults to a content hash over ALL fact
    columns — a function of row values only, so salt assignment (and the
    whole plan) is identical across reruns and partition layouts; exact
    duplicate rows share a salt, which only matters if one VALUE is
    duplicated ~billions of times (then pass an explicit row id)."""
    from pyspark.sql import functions as F

    if fact_row_id is None:
        fact = fact_df.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in fact_df.columns]),
                F.lit(buckets),
            ).cast("int"),
        )
    else:
        fact = fact_df.withColumn(
            "__salt", (F.col(fact_row_id) % buckets).cast("int")
        )
    dim = dim_df.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(buckets)])),
    )
    out = fact.join(dim, [key, "__salt"]).drop("__salt")
    return out
