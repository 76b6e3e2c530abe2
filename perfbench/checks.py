"""Output checks.  Every function returns a list of failure strings (empty
when the output is right); they run outside the timed region.

* titles: row count conserved, NULL in <=> NULL out, every golden title
  mapped to its golden output, and a seeded sample equal to the
  in-process ``match_titles``.
* catalog queries: exact values in delivered order against the DuckDB
  oracle (columns sorted by name); the v2
  standardize form, which has no oracle, against the v1 matcher run
  in-process on the same documents.
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import Decimal


def check_titles(inputs: list, titles: list, outputs: list,
                 expected: dict[str, str]) -> list[str]:
    """``inputs``: the generated rows; ``titles``/``outputs``: the
    delivered (title, standardized) columns; ``expected``: title ->
    standardized for the goldens and the seeded sample."""
    fails = []
    if len(titles) != len(inputs):
        fails.append(f"row count {len(titles)} != input rows {len(inputs)}")
    if Counter(titles) != Counter(inputs):
        fails.append("delivered titles differ from the input titles")
    bad_null = sum((t is None) != (o is None) for t, o in zip(titles, outputs))
    if bad_null:
        fails.append(f"{bad_null} rows break NULL in <=> NULL out")
    seen = set()
    wrong = []
    for t, o in zip(titles, outputs):
        if t in expected:
            seen.add(t)
            if o != expected[t]:
                wrong.append((t, o, expected[t]))
    if wrong:
        fails.append(f"{len(wrong)} wrong matches, e.g. {wrong[0]!r}")
    missing = set(expected) - seen
    if missing:
        fails.append(f"{len(missing)} checked titles absent, e.g. {sorted(missing)[0]!r}")
    return fails


def _cell(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canon(rows, cols) -> tuple[list, list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [tuple(_cell(r[i]) for i in order) for r in rows])


def compare_rows(got_rows, got_cols, want_rows, want_cols) -> list[str]:
    gc, g = canon(got_rows, got_cols)
    wc, w = canon(want_rows, want_cols)
    if gc != wc:
        return [f"columns {gc} != {wc}"]
    if len(g) != len(w):
        return [f"row count {len(g)} != {len(w)}"]
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if bad:
        return [f"{len(bad)} rows differ, first at {bad[0]}: {g[bad[0]]!r} != {w[bad[0]]!r}"]
    return []


def v2_expected(documents_text: list[str]) -> tuple[list, list]:
    """``std_documents_scale_form``'s answer computed with the v1 matcher:
    (bls_category, n_docs) over each document's first four tokens."""
    from duckdb_title_mapper_spark.operators.standardize import match_titles

    titles = [" ".join(t.split(" ")[:4]) for t in documents_text]
    cats = Counter()
    for s in match_titles(titles):
        parts = s.split(" - ")
        cats[parts[1] if len(parts) > 1 else ""] += 1
    return sorted(cats.items()), ["bls_category", "n_docs"]


def compare_unordered(got_rows, got_cols, want_rows, want_cols) -> list[str]:
    gc, g = canon(got_rows, got_cols)
    wc, w = canon(want_rows, want_cols)
    if gc != wc:
        return [f"columns {gc} != {wc}"]
    if sorted(g, key=repr) != sorted(w, key=repr):
        return [f"row sets differ: {len(g)} rows vs {len(w)} expected"]
    return []
