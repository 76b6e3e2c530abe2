#!/usr/bin/env python3
"""Show that the benchmark's output checks catch corrupted outputs.

    python3 perfbench/selftest.py

Builds correct outputs without Spark (the in-process matcher for titles,
DuckDB oracles over the benchmark's copy of the sf0.01 test tables for
catalog queries), confirms the
checks pass them, then corrupts them one way at a time and confirms each
corruption is flagged.  Exits 0 only if every case behaves.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def titles_cases():
    import inputs
    from checks import check_titles
    from duckdb_title_mapper_spark.operators.standardize import match_titles

    rows = inputs.titles_distinct(ROOT, 7, 3_000)
    non_null = [t for t in rows if t is not None]
    out = dict(zip(non_null, match_titles(non_null)))
    titles = list(rows)
    std = [None if t is None else out[t] for t in rows]
    expected = dict(inputs.golden_titles())
    expected.update({t: out[t] for t in non_null[:200]})
    golden = next(i for i, t in enumerate(titles) if t == "robotics engineer")
    sampled = titles.index(non_null[100])
    first_null = titles.index(None)

    def swap(col, i, v):
        c = list(col)
        c[i] = v
        return c

    yield "titles: correct output", check_titles(rows, titles, std, expected), False
    yield "titles: one golden wrong", check_titles(
        rows, titles, swap(std, golden, "Poet - Writers and Authors"), expected), True
    yield "titles: one sampled title wrong", check_titles(
        rows, titles, swap(std, sampled, std[golden]), expected), True
    yield "titles: a row dropped", check_titles(rows, titles[1:], std[1:], expected), True
    yield "titles: NULL in, value out", check_titles(
        rows, titles, swap(std, first_null, "General Worker - All Occupations"), expected), True
    yield "titles: value in, NULL out", check_titles(
        rows, titles, swap(std, golden, None), expected), True


def catalog_cases():
    import duckdb
    import pyarrow.parquet as pq

    from checks import compare_rows, compare_unordered, v2_expected
    from duckdb_title_mapper_spark.workload import TABLES, all_queries
    from workloads import TABLES_DIR

    registry = all_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{TABLES_DIR}/{t}.parquet')")
    rel = con.sql(registry["rel_join_q5_shape"].oracle)
    cols, rows = rel.columns, rel.fetchall()
    con.close()
    docs = pq.read_table(os.path.join(TABLES_DIR, "documents.parquet")).column("text").to_pylist()
    first = list(rows[0])
    first[-1] = first[-1] + type(first[-1])(1) if not isinstance(first[-1], str) else first[-1] + "x"
    bumped = [tuple(first)] + rows[1:]
    yield "catalog: oracle equals itself", compare_rows(rows, cols, rows, cols), False
    yield "catalog: one value changed", compare_rows(bumped, cols, rows, cols), True
    yield "catalog: delivered order changed", compare_rows(rows[::-1], cols, rows, cols), True
    yield "catalog: a row missing", compare_rows(rows[:-1], cols, rows, cols), True
    want, want_cols = v2_expected(docs)
    moved = [(want[0][0], want[0][1] - 1), (want[1][0], want[1][1] + 1)] + want[2:]
    yield "v2: matches the v1 matcher", compare_unordered(want[::-1], want_cols, want, want_cols), False
    yield "v2: one document re-categorized", compare_unordered(moved, want_cols, want, want_cols), True


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    ok = True
    for cases in (titles_cases(), catalog_cases()):
        for name, fails, should_fail in cases:
            good = bool(fails) == should_fail
            ok &= good
            verdict = "flagged" if fails else "passed"
            print(f"{'ok ' if good else 'BAD'} {name}: {verdict}"
                  + (f" ({fails[0]})" if fails else ""))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
