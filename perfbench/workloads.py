"""The benchmark's workloads.

Each workload makes its inputs, lists the operations one pass
runs (``(name, family, build)``, where ``build()`` returns the DataFrame
a user would get), and checks the outputs of an untimed full-delivery
pass that doubles as the warm-up.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import checks
import inputs

TITLES_DISTINCT_ROWS = 100_000
TITLES_REPEATED_ROWS = 500_000
TITLES_POOL = 2_000
SAMPLE_TITLES = 1_000  # seeded sample checked against in-process match_titles

# The repository's fixed sf0.01 test tables, copied byte for byte.
CATALOG_SF = 0.01
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# A slice of the frozen headline list (bench.HEADLINE) that covers the
# standardize v2 DataFrame form, a Structured Streaming run, a star join and
# an iterative graph loop that materializes every round.  The v1 UDF is
# timed by the titles workloads.
CATALOG_QUERIES = (
    "std_documents_scale_form",
    "stream_tumbling_counts",
    "rel_join_q5_shape",
    "x_connected_components",
)
TITLES_SQL = "title, standardize_title(title) AS standardized"


def family(query: str) -> str:
    return query.split("_", 1)[0]


class Titles:
    """``SELECT title, standardize_title(title)`` over generated titles."""

    imports: tuple[str, ...] = ()

    def __init__(self, name: str):
        self.name = name

    def make_inputs(self, root: str, work: str, seed: int, cpus: int) -> dict:
        if self.name == "titles_distinct":
            rows = inputs.titles_distinct(root, seed, TITLES_DISTINCT_ROWS)
        else:
            rows = inputs.titles_repeated(root, seed, TITLES_REPEATED_ROWS, TITLES_POOL)
        self.seed, self.cpus, self.work = seed, cpus, work
        self.path = os.path.join(work, "data", "titles")
        shards = inputs.write_titles(rows, self.path, cpus)
        # keep only what later steps need, so the generated rows do not
        # sit in the driver's memory during the timed passes
        self.rows = len(rows)
        self.distinct = sorted({t for t in rows if t is not None})
        self.batch0 = shards[0][:inputs.ARROW_BATCH_ROWS]
        self.info = inputs.describe_titles(shards)
        return self.info

    def ops(self, spark) -> list:
        return [("standardize_title", "std",
                 lambda: spark.read.parquet(self.path).selectExpr(*TITLES_SQL.split(", ")))]

    def expected_udf_rows(self) -> int:
        return self.rows

    def distinct_titles(self) -> list[str]:
        return self.distinct

    def first_batch(self) -> list:
        return self.batch0

    def check(self, spark) -> dict[str, list[str]]:
        from duckdb_title_mapper_spark.operators.standardize import match_titles

        df = self.ops(spark)[0][2]()
        fails = []
        parts = df.rdd.getNumPartitions()
        if parts < self.cpus:
            fails.append(f"input scans as {parts} partitions < {self.cpus} cores")
        out = os.path.join(self.work, "out", "titles")
        df.write.mode("overwrite").parquet(out)
        table = pq.read_table(out)
        rng = np.random.default_rng([self.seed, 4])
        sample = [self.distinct[i]
                  for i in rng.choice(len(self.distinct), SAMPLE_TITLES, replace=False)]
        expected = dict(zip(sample, match_titles(sample)))
        expected.update(inputs.golden_titles())
        fails += checks.check_titles(
            pq.read_table(self.path).column("title").to_pylist(),
            table.column("title").to_pylist(),
            table.column("standardized").to_pylist(), expected)
        return {"standardize_title": fails}


class Catalog:
    """Headline queries as ``all_queries()`` registers them (total-order
    sort included)."""

    imports = ("duckdb_title_mapper_spark.workload",)
    name = "catalog_mix"

    def make_inputs(self, root: str, work: str, seed: int, cpus: int) -> dict:
        self.dir = TABLES_DIR
        self.info = {"sf": CATALOG_SF, "tables": inputs.table_rows(self.dir),
                     "queries": list(CATALOG_QUERIES)}
        return self.info

    def ops(self, spark) -> list:
        from duckdb_title_mapper_spark.workload import all_queries

        registry = all_queries()
        return [(q, family(q), lambda fn=registry[q].spark_fn: fn(spark, self.dir))
                for q in CATALOG_QUERIES]

    def expected_udf_rows(self):
        return None

    def distinct_titles(self) -> list[str]:
        docs = pq.read_table(os.path.join(self.dir, "documents.parquet"))
        return sorted({" ".join(t.split(" ")[:4]) for t in docs.column("text").to_pylist()})

    def first_batch(self) -> list:
        return self.distinct_titles()  # what the v2 form matches

    def check(self, spark) -> dict[str, list[str]]:
        import duckdb

        from duckdb_title_mapper_spark.workload import TABLES, all_queries

        registry = all_queries()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{t}.parquet')")
            out = {}
            for name, _, build in self.ops(spark):
                try:
                    df = build()
                    rows, cols = [tuple(r) for r in df.collect()], df.columns
                    oracle = registry[name].oracle
                    if oracle is not None:
                        rel = con.sql(oracle)
                        out[name] = checks.compare_rows(rows, cols, rel.fetchall(), rel.columns)
                    elif name == "std_documents_scale_form":
                        docs = pq.read_table(os.path.join(self.dir, "documents.parquet"))
                        want, want_cols = checks.v2_expected(docs.column("text").to_pylist())
                        out[name] = checks.compare_unordered(rows, cols, want, want_cols)
                    else:
                        out[name] = [] if rows else ["no rows and no oracle"]
                except Exception as e:  # a failed query is a failed check
                    out[name] = [f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"]
            return out
        finally:
            con.close()


WORKLOADS = {
    "titles_distinct": lambda: Titles("titles_distinct"),
    "titles_repeated": lambda: Titles("titles_repeated"),
    "catalog_mix": Catalog,
}
