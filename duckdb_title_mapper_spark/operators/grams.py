"""Shared character-gram census for the gram-bound dedup passes.

The three char-gram queries (`x_winnow_fingerprints` k=8/w=4,
`x_winnow_coarse_rolling` k=12/w=16, `x_substring_dup_rolling` k=32
stride=8) together were the largest compute block in the bench (~9 s at
sf0.1), and measurement shows the cost is the per-gram md5 HASHING, not
scans, selection, or materialization (VERDICT r5 #3; r6 decomposition:
h8-only hashing 2.4 s, all three hash families 5.1 s, the
materialization write < 0.5 s at sf0.1).  Fusing the scans alone is
therefore cost-neutral — the fix that actually pays is hashing ONCE per
position and deriving the longer-gram fingerprints by composition, the
Rabin/Karp rolling-hash idea the winnowing paper itself builds on
(Schleimer/Wilkerson/Aiken, SIGMOD 2003 §2):

- ``h8``  — 32-bit md5-prefix hash of the 8-char gram at every
  position: the ONE md5 the census pays.
- ``h12`` — 12-char-window fingerprint ``h8[p]*31 + h8[p+4]``
  (the two 8-grams covering chars p..p+11).  Range < 2^37; FEWER
  birthday collisions than the 32-bit md5 prefix it replaces.
- ``g32`` — 32-char-span fingerprint composing ``h8`` at p, p+8,
  p+16, p+24 with base-31 Horner steps (< 2^47, exact BIGINT in both
  engines), emitted on stride-8 positions.

All composition happens on ONE window partitioning (doc_id ORDER BY
pos; positions are contiguous so ``lead(h8, k)`` IS ``h8[p+k]``), and
the census materializes ONCE per (session, sf_dir) via
``plans/materialize``.  ``x_gram_census`` is the declared query that
OWNS the build: it always rebuilds (so its bench timing is the honest
cold cost of the shared pass) and emits a per-doc manifest with an
exact DuckDB oracle; the derived queries reuse the cached relation when
present and build it themselves when run in isolation.

Scale: the census is ~total_chars rows of 4 BIGINTs — the same order
as the gram stream each standalone query already exploded, paid once
instead of three times, with HALF the md5 work of the three standalone
passes combined.  On a cluster the materialization mode is ``reliable``
(lineage-keeping persist) via SPARK_GRAFT_MATERIALIZE; at 100 TB the
census would be written partitioned-by-doc-bucket parquet so the three
consumers (and tomorrow's fourth) schedule against storage.  Collision
budget at extreme scale: the 47-bit ``g32`` compose is ample for bench
corpora (~0.1 expected false spans at sf0.1); for a 1e12-span (true
100 TB) corpus the census now ALSO emits the second independent lane
it designed for — ``h8b``/``g32b`` composed from md5 hex chars 9..16
of the same digest (one extra ``conv``, NO extra md5), giving the
(g32, g32b) pair 94 effective bits (r7; ``x_substring_dup_dual`` keys
spans on the pair, ``x_gram_census_dual`` certifies both lanes).  The
word-5-gram pass (`x_boilerplate_ngrams`) keeps its own materialized
relation: its explode unit is tokens, not characters, so there is
nothing to share.
"""

from __future__ import annotations

CENSUS_VIEW = "__gram_census"


def _hex32(spark_dialect: bool, start: int) -> str:
    """BIGINT from 8 hex chars of the shared per-position md5 string
    ``m`` — chars 1..8 are the h8 lane, 9..16 the independent h8b lane
    (r7, VERDICT r6 #6): ONE md5 per position still, two 32-bit words
    read out of it."""
    if spark_dialect:
        return f"CAST(conv(substr(m, {start}, 8), 16, 10) AS BIGINT)"
    return f"(('0x' || substr(m, {start}, 8))::BIGINT)"


def _positions(spark_dialect: bool) -> str:
    if spark_dialect:
        return ("SELECT doc_id, text, CAST(length(text) AS BIGINT)"
                " AS n_chars, explode(sequence(1, length(text) - 7)) AS pos"
                " FROM documents WHERE length(text) >= 8")
    return ("SELECT doc_id, text, length(text) AS n_chars,"
            " unnest(generate_series(1, length(text) - 7)) AS pos"
            " FROM documents WHERE length(text) >= 8")


def census_sql(spark_dialect: bool) -> str:
    """The fused gram pass in either dialect: one md5 per position,
    longer-gram fingerprints composed from neighboring h8 values on a
    single window partitioning.  Shared text is what makes the derived
    queries' DuckDB oracles recompute the identical integers.

    r7 adds the SECOND fingerprint lane the module docstring designed:
    ``h8b`` reads md5 hex chars 9..16 of the SAME digest (no extra
    md5, one extra conv) and ``g32b`` composes it over the same
    stride-8 span positions — the (g32, g32b) pair carries 94
    effective bits, the collision budget a 1e12-span (true 100 TB)
    corpus needs.  h8/h12/g32 values are bit-identical to the r6
    census, so every pre-existing consumer's output is unchanged."""
    h8 = _hex32(spark_dialect, 1)
    h8b = _hex32(spark_dialect, 9)
    return f"""SELECT doc_id, n_chars, pos, h8, h8b,
           CASE WHEN pos <= n_chars - 11
                THEN h8 * 31 + lead(h8, 4) OVER win END AS h12,
           CASE WHEN pos % 8 = 1 AND pos <= n_chars - 31
                THEN ((h8 * 31 + lead(h8, 8) OVER win) * 31
                      + lead(h8, 16) OVER win) * 31
                     + lead(h8, 24) OVER win END AS g32,
           CASE WHEN pos % 8 = 1 AND pos <= n_chars - 31
                THEN ((h8b * 31 + lead(h8b, 8) OVER win) * 31
                      + lead(h8b, 16) OVER win) * 31
                     + lead(h8b, 24) OVER win END AS g32b
    FROM (SELECT doc_id, n_chars, pos, {h8} AS h8, {h8b} AS h8b
          FROM (SELECT doc_id, n_chars, pos,
                       md5(substr(text, pos, 8)) AS m
                FROM ({_positions(spark_dialect)}) st) bm) b
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)"""


def build_census(spark, sf_dir: str, force: bool = False):
    """Build (or fetch the cached) census relation and register it as
    the ``__gram_census`` temp view.  ``force=True`` rebuilds and
    replaces the cache entry — the declared ``x_gram_census`` query uses
    it so the shared pass's cold cost is always the one being measured,
    never a cache hit.

    The census persists as a PARQUET ROUND-TRIP through
    ``plans/tmpstore.versioned_store``, not as checkpoint/persist
    blocks: block caches are session-fragile (bench.py unpersists all
    persistent RDDs between queries as residue cleanup, which killed a
    localCheckpoint-backed census mid-run), while a parquet scan
    survives any cache eviction, prunes columns per consumer, and IS
    the documented 100 TB shape — consumers scheduling against storage
    instead of re-scanning the corpus."""
    from ..plans.tmpstore import versioned_store
    from ..workload import register_views

    def build(put):
        register_views(spark, sf_dir, "documents")
        put(CENSUS_VIEW, spark.sql(census_sql(True)))

    return versioned_store(spark, "census", sf_dir, build,
                           force=force)[CENSUS_VIEW]


def _manifest_tail(src: str) -> str:
    return f"""SELECT doc_id,
           max(n_chars) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_grams8,
           CAST(count(h12) AS BIGINT) AS n_grams12,
           CAST(count(g32) AS BIGINT) AS n_spans32,
           CAST(sum(h8) AS BIGINT) AS h8_sum,
           CAST(coalesce(sum(h12), 0) AS BIGINT) AS h12_sum,
           CAST(count(DISTINCT g32) AS BIGINT) AS g32_distinct
    FROM {src} GROUP BY doc_id"""


def census_manifest_sql(spark_dialect: bool) -> str:
    """Per-doc census manifest (the declared query's shape): gram counts
    for each family plus integer fingerprint checksums — a value-dense
    summary the DuckDB oracle recomputes exactly.  h8 < 2^32, h12 <
    2^37, and docs are ~1e2-1e4 grams, so the BIGINT sums sit far below
    overflow."""
    if spark_dialect:
        return _manifest_tail(CENSUS_VIEW)
    return (f"WITH census AS ({census_sql(False)})\n"
            + _manifest_tail("census"))


def _manifest_dual_tail(src: str) -> str:
    return f"""SELECT doc_id,
           max(n_chars) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_grams8,
           CAST(count(h12) AS BIGINT) AS n_grams12,
           CAST(count(g32) AS BIGINT) AS n_spans32,
           CAST(sum(h8) AS BIGINT) AS h8_sum,
           CAST(sum(h8b) AS BIGINT) AS h8b_sum,
           CAST(coalesce(sum(h12), 0) AS BIGINT) AS h12_sum,
           CAST(count(DISTINCT g32) AS BIGINT) AS g32_distinct,
           CAST(count(DISTINCT g32b) AS BIGINT) AS g32b_distinct
    FROM {src} GROUP BY doc_id"""


def census_manifest_dual_sql(spark_dialect: bool) -> str:
    """Per-doc manifest over BOTH fingerprint lanes (r7): the r6
    manifest columns plus the b-lane checksum and span-distinct count,
    certifying that the census emits two independent 47-bit span
    lanes off one md5 pass.  Same overflow headroom argument as
    ``census_manifest_sql`` (h8b < 2^32, docs are 1e2-1e4 grams)."""
    if spark_dialect:
        return _manifest_dual_tail(CENSUS_VIEW)
    return (f"WITH census AS ({census_sql(False)})\n"
            + _manifest_dual_tail("census"))


def winnow_fp_from_census_sql(k: int, w: int) -> str:
    """The winnowing fingerprint relation (doc_id, n_grams, h) derived
    from the census — for k=8 identical rows to the legacy standalone
    pass (same md5-prefix hash, same rightmost-min tie key, same window
    frame); for k=12 the fingerprint is the composed 12-char-window
    hash (h12), with the same winnowing mechanics.  selkey packing:
    h12 < 2^37 keeps h * 2^20 < 2^57, still exact BIGINT."""
    if k == 8:
        h, guard = "h8", ""
    elif k == 12:
        h, guard = "h12", " WHERE h12 IS NOT NULL"
    else:
        raise ValueError(f"census carries k=8 and k=12 grams, not k={k}")
    m = 1 << 20
    return f"""SELECT DISTINCT doc_id, n_grams, selkey div {m} AS h
      FROM (
        SELECT doc_id, pos, n_grams,
               min(h * {m} + ({m - 1} - pos)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS selkey
        FROM (SELECT doc_id, pos, (n_chars - {k - 1}) AS n_grams,
                     {h} AS h
              FROM {CENSUS_VIEW}{guard}) g) wm
      WHERE pos + {w - 1} <= n_grams"""


def winnow_coarse_oracle_sql(w: int = 16) -> str:
    """DuckDB oracle for the composed-hash coarse preset: the census
    CTE (shared text with census_sql) feeding the same winnow window
    and sharing aggregate the Spark side runs."""
    m = 1 << 20
    return f"""WITH census AS ({census_sql(False)}),
    fp AS (
      SELECT DISTINCT doc_id, n_grams, selkey // {m} AS h
      FROM (
        SELECT doc_id, pos, n_grams,
               min(h * {m} + ({m - 1} - pos)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS selkey
        FROM (SELECT doc_id, pos, (n_chars - 11) AS n_grams, h12 AS h
              FROM census WHERE h12 IS NOT NULL) g) wm
      WHERE pos + {w - 1} <= n_grams),
    sh AS (SELECT h, count(*) AS n_docs_with FROM fp GROUP BY h)
    SELECT f.doc_id, f.n_grams,
           count(*) AS n_fingerprints,
           CAST(sum(CASE WHEN sh.n_docs_with > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_fps
    FROM fp f JOIN sh ON f.h = sh.h
    GROUP BY f.doc_id, f.n_grams"""


def substring_grams_from_census_sql() -> str:
    """The strided 32-char-span fingerprint relation (doc_id, g)
    derived from the census (composed hash, stride-8 positions)."""
    return (f"SELECT doc_id, g32 AS g FROM {CENSUS_VIEW} "
            "WHERE g32 IS NOT NULL")


def substring_dup_oracle_sql() -> str:
    """DuckDB oracle for the composed-hash substring-span query."""
    return f"""WITH census AS ({census_sql(False)}),
    grams AS (SELECT doc_id, g32 AS g FROM census WHERE g32 IS NOT NULL),
    gcount AS (
      SELECT g, count(DISTINCT doc_id) AS n_docs_with
      FROM grams GROUP BY g),
    per_doc AS (
      SELECT gr.doc_id,
             count(*) AS n_spans,
             CAST(sum(CASE WHEN gc.n_docs_with > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_spans
      FROM grams gr JOIN gcount gc ON gr.g = gc.g
      GROUP BY gr.doc_id)
    SELECT doc_id, n_spans, n_dup_spans,
           n_dup_spans * 2 >= n_spans AS mostly_duplicated
    FROM per_doc"""


def _substring_dual_tail(src: str) -> str:
    return f"""gcount AS (
      SELECT g, gb, count(DISTINCT doc_id) AS n_docs_with
      FROM {src} GROUP BY g, gb),
    per_doc AS (
      SELECT gr.doc_id,
             count(*) AS n_spans,
             CAST(sum(CASE WHEN gc.n_docs_with > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_spans
      FROM {src} gr JOIN gcount gc ON gr.g = gc.g AND gr.gb = gc.gb
      GROUP BY gr.doc_id)
    SELECT doc_id, n_spans, n_dup_spans,
           n_dup_spans * 2 >= n_spans AS mostly_duplicated
    FROM per_doc"""


def substring_dual_from_census_sql() -> str:
    """Spark side of the dual-lane span query: spans keyed by the
    (g32, g32b) PAIR — 94 effective bits, the 1e12-span collision
    budget.  A span is duplicated only when another document matches
    BOTH independent lanes."""
    return (f"WITH grams AS (SELECT doc_id, g32 AS g, g32b AS gb "
            f"FROM {CENSUS_VIEW} WHERE g32 IS NOT NULL),\n"
            + _substring_dual_tail("grams"))


def substring_dual_oracle_sql() -> str:
    """DuckDB oracle for the dual-lane substring-span query."""
    return (f"WITH census AS ({census_sql(False)}),\n"
            "grams AS (SELECT doc_id, g32 AS g, g32b AS gb FROM census "
            "WHERE g32 IS NOT NULL),\n"
            + _substring_dual_tail("grams"))
