"""Seeded input generator for the benchmark.

The ``titles_*`` inputs are messy job titles made from knowledge-base
variants (seniority prefixes, suffixes such as "II" or "- Remote", case
noise), mixed with the reference goldens and a NULL share.  Each is a pure
function of ``(seed, cpus)``: the same seed writes byte-identical parquet
files, split into ``cpus`` single-row-group files so the input scans as
``cpus`` partitions with no shuffle.  The program under test only ever
sees these files.

``catalog_mix`` reads no generated input: it runs on a byte copy of the
repository's fixed sf0.01 test tables (``data/sf0.01``), read in place,
so its inputs are the same for every seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NULL_SHARE = 0.01
ARROW_BATCH_ROWS = 20_000  # spark.sql.execution.arrow.maxRecordsPerBatch

_PREFIXES = (
    "Senior", "Sr.", "Sr", "Junior", "Jr.", "Lead", "Principal", "Staff",
    "Chief", "Head", "Associate", "Assistant", "Entry Level", "Trainee",
    "Interim", "Deputy", "Acting", "Experienced",
)
_SUFFIXES = (
    "II", "III", "IV", "I", "- Remote", "(Remote)", "- Contract",
    "(Part-Time)", "- Night Shift", "/ Hybrid", "- Level 2", "(m/w/d)",
    "- Full Time", "- Temp", "- Bilingual", "(Relocation)",
)


def _kb_variants(root: str) -> list[str]:
    path = os.path.join(root, "duckdb_title_mapper_spark", "resources",
                        "standarized_titles.json")
    with open(path, encoding="utf-8") as f:
        records = json.load(f)
    return sorted({v for r in records for v in r.get("other_titles", [])})


def golden_titles() -> dict[str, str]:
    """title -> expected output, over every golden set the program ships."""
    from duckdb_title_mapper_spark.reference_goldens import (
        AUTHORITATIVE, CORPUS_104, EDGE_CASES, MESSY_PROBES,
    )

    return {**CORPUS_104, **MESSY_PROBES, **EDGE_CASES, **AUTHORITATIVE}


def _case_noise(rng, s: str) -> str:
    r = rng.random()
    if r < 0.35:
        return s
    if r < 0.55:
        return s.lower()
    if r < 0.70:
        return s.upper()
    if r < 0.85:
        return s.title()
    flips = rng.random(len(s)) < 0.2
    return "".join(c.swapcase() if f else c for c, f in zip(s, flips))


def _messy(rng, variants: list[str]) -> str:
    parts = []
    if rng.random() < 0.6:
        parts.append(_PREFIXES[rng.integers(len(_PREFIXES))])
    parts.append(variants[rng.integers(len(variants))])
    if rng.random() < 0.6:
        parts.append(_SUFFIXES[rng.integers(len(_SUFFIXES))])
    return _case_noise(rng, " ".join(parts))


def _distinct_messy(rng, variants: list[str], n: int, exclude) -> list[str]:
    seen = set(exclude)
    out: list[str] = []
    while len(out) < n:
        t = _messy(rng, variants)
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _with_nulls(rng, titles: list[str]) -> list:
    """Replace a NULL_SHARE of the rows with NULL, never a golden title."""
    rows = list(titles)
    goldens = golden_titles()
    free = np.array([i for i, t in enumerate(rows) if t not in goldens])
    n_null = int(round(len(rows) * NULL_SHARE))
    for i in rng.choice(free, size=n_null, replace=False):
        rows[int(i)] = None
    return rows


def titles_distinct(root: str, seed: int, rows: int) -> list:
    """~``rows`` titles, all distinct apart from the NULL share."""
    rng = np.random.default_rng([seed, 1])
    goldens = list(golden_titles())
    titles = goldens + _distinct_messy(rng, _kb_variants(root),
                                       rows - len(goldens), goldens)
    titles = [titles[i] for i in rng.permutation(len(titles))]
    return _with_nulls(rng, titles)


def titles_repeated(root: str, seed: int, rows: int, pool: int) -> list:
    """``rows`` titles drawn Zipf(1) from a ``pool`` of distinct titles."""
    rng = np.random.default_rng([seed, 2])
    goldens = list(golden_titles())
    titles = goldens + _distinct_messy(rng, _kb_variants(root),
                                       pool - len(goldens), goldens)
    titles = [titles[i] for i in rng.permutation(len(titles))]
    weights = 1.0 / np.arange(1, pool + 1)
    picks = rng.choice(pool, size=rows, p=weights / weights.sum())
    # every pool title appears at least once, so each golden is checked
    picks[rng.choice(rows, size=pool, replace=False)] = np.arange(pool)
    return _with_nulls(rng, [titles[i] for i in picks])


def write_titles(rows: list, out_dir: str, files: int) -> list[list]:
    """Write ``rows`` as ``files`` contiguous single-row-group parquet
    files; returns the per-file row lists in scan order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(rows), files + 1).astype(int)
    shards = [rows[bounds[i]:bounds[i + 1]] for i in range(files)]
    for i, shard in enumerate(shards):
        table = pa.table({"title": pa.array(shard, type=pa.string())})
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       row_group_size=len(shard) + 1)
    return shards


def batch_dedup_evals(shards: list[list], batch: int = ARROW_BATCH_ROWS) -> int:
    """An input descriptor: the matcher runs a per-Arrow-batch dedup would
    leave, the sum over batches (``batch`` rows of one partition) of the
    distinct non-NULL titles in the batch.  The traced run measures the
    real count (``standardize.kernel_evals``)."""
    total = 0
    for shard in shards:
        for lo in range(0, len(shard), batch):
            total += len({t for t in shard[lo:lo + batch] if t is not None})
    return total


def table_rows(tables_dir: str) -> dict[str, int]:
    """Row count of every ``{name}.parquet`` in ``tables_dir``."""
    return {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(tables_dir, f)).metadata.num_rows
            for f in sorted(os.listdir(tables_dir)) if f.endswith(".parquet")}


def describe_titles(shards: list[list]) -> dict:
    rows = [t for s in shards for t in s]
    non_null = [t for t in rows if t is not None]
    distinct = len(set(non_null))
    evals = batch_dedup_evals(shards)
    return {
        "rows": len(rows),
        "non_null_rows": len(non_null),
        "distinct": distinct,
        "distinct_share": round(distinct / max(1, len(non_null)), 4),
        "files": len(shards),
        "batch_dedup_evals": evals,
        "batch_dedup_useful_frac": round(distinct / max(1, evals), 4),
    }
