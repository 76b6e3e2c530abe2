"""Exact suffix-array substring dedup via PREFIX DOUBLING.

Upgrades the strided-span stand-in (``x_substring_dup_rolling``,
fingerprint-based, probabilistically exact) to the REAL thing: the
Manber-Myers prefix-doubling construction (SODA 1990) run just far
enough to answer the dedup questions Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better") ask of a suffix array —
which positions start a duplicated substring of length >= L, merged
into maximal spans, and how long the longest duplicated prefix ladder
reaches.

Exactness without a global sort: classic prefix doubling assigns each
suffix a RANK (a global ``dense_rank`` — a total sort, which on Spark
is a single-partition bottleneck).  But dedup never needs the ORDER of
the suffix array, only its EQUALITY CLASSES, and a class id can be any
injective label — we use ``min(doc_id * 2^32 + pos)`` over the class,
computed with a hash-partitioned window (``PARTITION BY class-pair``),
which distributes across executors.  Induction: level-8 classes come
from the exact 8-char substring (real characters, no hashes — unlike
the gram census's md5 lanes this layer is collision-free by
construction); level-2k classes partition on the (level-k class of p,
level-k class of p+k) pair, which equals character-equality on 2k
chars by the standard doubling argument.  ``lead(cls, k)`` over the
per-doc position window IS cls(p+k) because live positions stay
contiguous (live at level k <=> pos <= n-k+1).

Per-round the live relation is materialized once (plans/materialize —
Spark inlines multi-consumer CTEs per consumer, the x_kcore_peel
lesson) and positions whose suffix is too short for the next level
RETIRE into a side list instead of being carried dead through every
remaining round (the live set collapses fast: mean doc is ~300 chars,
so levels 256/512 touch only the long tail).

Output contract (all BIGINT, one row per doc with any duplicated
8-prefix):

- ``n_dup32_pos``  — positions whose 32-char window occurs >= 2 times
  corpus-wide (exact string equality).
- ``n_spans32``    — maximal spans after merging consecutive
  duplicated positions (the intervals Lee et al. cut).
- ``dup_chars32``  — chars covered by the span union (run + 31 each).
- ``max_span32``   — longest merged span.
- ``max_occ32``    — max occurrence count among duplicated windows.
- ``max_dup_pow2`` — largest k in {8,16,...,512} such that some
  k-char substring of the doc occurs >= 2 times corpus-wide.

The DuckDB oracle unrolls the identical rounds as CTEs with explicit
``AS MATERIALIZED`` hints (DuckDB 1.0 inlines per consumer too — each
``led`` relation feeds both the next level and the retired union).

Scale: every window is hash-partitioned (by 8-gram, by class pair, by
doc) — no global sort anywhere; rounds are O(log max_doc_len) = 7 for
this ladder; rows never exceed total_chars and shrink as levels pass
doc lengths.  At 100 TB the level relations write as bucketed parquet
(materialize mode ``reliable``) and the class-pair shuffle is the same
shape AQE skew-handles everywhere else in the repo.
"""

from __future__ import annotations

LADDER = (8, 16, 32, 64, 128, 256, 512)

_KEY = "doc_id * 4294967296 + pos"


def _positions_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        return (
            "SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,"
            " explode(sequence(1, length(text) - 7)) AS pos"
            " FROM documents WHERE length(text) >= 8"
        )
    return (
        "SELECT doc_id, text, length(text) AS n_chars,"
        " unnest(generate_series(1, length(text) - 7)) AS pos"
        " FROM documents WHERE length(text) >= 8"
    )


def base_sql(spark_dialect: bool) -> str:
    """Level-8 live relation: exact 8-char substrings -> class ids."""
    return f"""SELECT doc_id, n_chars, pos, key,
           min(key) OVER (PARTITION BY g) AS cls,
           CASE WHEN count(*) OVER (PARTITION BY g) > 1
                THEN CAST(8 AS BIGINT) ELSE CAST(0 AS BIGINT)
           END AS max_dup,
           CAST(0 AS BIGINT) AS dup32,
           CAST(0 AS BIGINT) AS occ32
    FROM (SELECT doc_id, n_chars, pos, {_KEY} AS key,
                 substr(text, pos, 8) AS g
          FROM ({_positions_sql(spark_dialect)}) p) b"""


def led_sql(k: int, src: str) -> str:
    """Attach cls(p+k): live rows are contiguous per doc, so a row
    lead of k IS a position lead of k (shared dialect)."""
    return (
        f"SELECT doc_id, n_chars, pos, key, cls, max_dup, dup32, occ32,"
        f" lead(cls, {k}) OVER (PARTITION BY doc_id ORDER BY pos) AS c2"
        f" FROM {src}"
    )


def double_sql(m: int, led_src: str) -> str:
    """Level-m (= 2k) live relation from the led view: class id =
    min key over the (cls, c2) pair partition; positions without a
    full m-char window (c2 NULL) retire (shared dialect)."""
    if m == 32:
        caught = """CASE WHEN count(*) OVER (PARTITION BY cls, c2) > 1
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
           END AS dup32,
           CASE WHEN count(*) OVER (PARTITION BY cls, c2) > 1
                THEN count(*) OVER (PARTITION BY cls, c2)
                ELSE CAST(0 AS BIGINT)
           END AS occ32"""
    else:
        caught = "dup32, occ32"
    return f"""SELECT doc_id, n_chars, pos, key,
           min(key) OVER (PARTITION BY cls, c2) AS cls,
           CASE WHEN count(*) OVER (PARTITION BY cls, c2) > 1
                THEN CAST({m} AS BIGINT) ELSE max_dup
           END AS max_dup,
           {caught}
    FROM {led_src} WHERE c2 IS NOT NULL"""


_RETIRE_COLS = "doc_id, pos, max_dup, dup32, occ32"


def final_sql(union_src: str) -> str:
    """Per-doc aggregation: dup32 runs merged into maximal spans
    (pos - row_number grouping idiom) + the ladder max (shared
    dialect; every output column CAST to BIGINT on both engines)."""
    return f"""WITH d32 AS (
      SELECT doc_id, pos, occ32,
             pos - row_number() OVER (PARTITION BY doc_id
                 ORDER BY pos) AS grp
      FROM {union_src} WHERE dup32 = 1),
    runs AS (
      SELECT doc_id, grp, count(*) AS run_len, max(occ32) AS mo
      FROM d32 GROUP BY doc_id, grp),
    per32 AS (
      SELECT doc_id,
             CAST(sum(run_len) AS BIGINT) AS n_dup32_pos,
             CAST(count(*) AS BIGINT) AS n_spans32,
             CAST(sum(run_len + 31) AS BIGINT) AS dup_chars32,
             CAST(max(run_len + 31) AS BIGINT) AS max_span32,
             CAST(max(mo) AS BIGINT) AS max_occ32
      FROM runs GROUP BY doc_id),
    lad AS (
      SELECT doc_id, CAST(max(max_dup) AS BIGINT) AS max_dup_pow2
      FROM {union_src} GROUP BY doc_id)
    SELECT l.doc_id, l.max_dup_pow2,
           CAST(COALESCE(p.n_dup32_pos, 0) AS BIGINT) AS n_dup32_pos,
           CAST(COALESCE(p.n_spans32, 0) AS BIGINT) AS n_spans32,
           CAST(COALESCE(p.dup_chars32, 0) AS BIGINT) AS dup_chars32,
           CAST(COALESCE(p.max_span32, 0) AS BIGINT) AS max_span32,
           CAST(COALESCE(p.max_occ32, 0) AS BIGINT) AS max_occ32
    FROM lad l LEFT JOIN per32 p ON p.doc_id = l.doc_id
    WHERE l.max_dup_pow2 >= 8"""


# ---------------------------------------------------------------------------
# shared level-32 store (r15 optimization)
# ---------------------------------------------------------------------------

L32_VIEW = "__suffix_l32"
RET16_VIEW = "__suffix_ret16"


def build_suffix_l32(spark, sf_dir: str, force: bool = False):
    """Build (or fetch) the parquet-backed LEVEL-32 suffix-class store
    and register it as ``__suffix_l32`` (+ the level-8/16 retiree
    slice as ``__suffix_ret16``).

    r15 optimization (guide §1.2 — remove repeated passes): FOUR
    queries ran the identical base -> led8 -> l16 -> led16 -> l32
    doubling chain per run (x_suffix_dup_spans as its ladder prefix;
    x_suffix_dup_extract / x_suffix_dedup_apply / x_suffix_dup_flow
    in full) — five window passes over every corpus position each.
    Stored through ``plans/tmpstore.versioned_store``, recomputed per
    session/run, never across runs.  ``x_suffix_dup_spans`` owns the
    build cost (force=True, it runs first in the bench order); the
    other three cache-hit.

    ``__suffix_ret16`` carries the positions that retire at levels 8
    and 16 (suffix too short for the next doubling) — only the spans
    ladder consumes them; storing the slice lets spans resume the
    ladder from level 32 without re-deriving the lower levels."""
    from ..plans.materialize import materialize
    from ..plans.tmpstore import versioned_store

    def build(put):
        # base has a SINGLE consumer here (led8's window), so it fuses
        # into led8's materialization instead of its own checkpoint
        spark.sql(base_sql(True)).createOrReplaceTempView("__sfxb_live_8")
        led8 = materialize(spark.sql(led_sql(8, "__sfxb_live_8")))
        led8.createOrReplaceTempView("__sfxb_led_8")
        spark.sql(double_sql(16, "__sfxb_led_8")) \
            .createOrReplaceTempView("__sfxb_live_16")
        led16 = materialize(spark.sql(led_sql(16, "__sfxb_live_16")))
        led16.createOrReplaceTempView("__sfxb_led_16")
        put(L32_VIEW, spark.sql(double_sql(32, "__sfxb_led_16")))
        put(RET16_VIEW, spark.sql(
            f"SELECT {_RETIRE_COLS} FROM __sfxb_led_8 WHERE c2 IS NULL"
            f" UNION ALL "
            f"SELECT {_RETIRE_COLS} FROM __sfxb_led_16 WHERE c2 IS NULL"))

    outs = versioned_store(spark, "suffix", sf_dir, build, force=force)
    return outs[L32_VIEW], outs[RET16_VIEW]


def suffix_dup_spans(spark, sf_dir: str | None = None):
    """Driver-loop prefix doubling over the registered ``documents``
    view; one materialization per round (the graph-loop discipline).
    The led relations stay materialized until the final union (each
    feeds both the next level and a retired slice).

    With ``sf_dir`` given, the level-32 prefix of the ladder comes
    from the shared parquet store (built here, force=True — this
    query owns the build cost; extract/apply/flow cache-hit) and the
    ladder resumes at level 32.  Without it (unit tests), the
    original fully-inline chain runs."""
    from ..plans.materialize import materialize, release

    retired = []
    if sf_dir is not None:
        l32, ret16 = build_suffix_l32(spark, sf_dir, force=True)
        live = l32
        start = LADDER.index(32)
        retired.append(ret16.selectExpr(*_RETIRE_COLS.split(", ")))
    else:
        base = materialize(spark.sql(base_sql(True)))
        live = base
        start = 0
    for k in LADDER[start:-1]:
        vl = f"__sfx_led_{k}"
        live.createOrReplaceTempView(f"__sfx_live_{k}")
        led = materialize(spark.sql(led_sql(k, f"__sfx_live_{k}")))
        led.createOrReplaceTempView(vl)
        if k == LADDER[0] and sf_dir is None:
            release(base)
        retired.append(
            spark.sql(
                f"SELECT {_RETIRE_COLS} FROM {vl} WHERE c2 IS NULL"
            )
        )
        live = spark.sql(double_sql(2 * k, vl))
    u = live.selectExpr("doc_id", "pos", "max_dup", "dup32", "occ32")
    for r in retired:
        u = u.unionAll(r)
    u.createOrReplaceTempView("__sfx_union")
    return spark.sql(final_sql("__sfx_union"))


def suffix_oracle_sql() -> str:
    """The identical rounds unrolled as DuckDB CTEs.  Every level and
    led relation carries ``AS MATERIALIZED``: each led feeds TWO
    consumers (the next level + the retired union), and DuckDB 1.0
    inlines per consumer exactly like Spark (the x_kcore_peel spill
    incident)."""
    parts = [f"l8 AS MATERIALIZED ({base_sql(False)})"]
    for k in LADDER[:-1]:
        parts.append(
            f"led{k} AS MATERIALIZED ({led_sql(k, f'l{k}')})"
        )
        parts.append(
            f"l{2 * k} AS MATERIALIZED ({double_sql(2 * k, f'led{k}')})"
        )
    union = "\n      UNION ALL ".join(
        [f"SELECT {_RETIRE_COLS} FROM l{LADDER[-1]}"]
        + [
            f"SELECT {_RETIRE_COLS} FROM led{k} WHERE c2 IS NULL"
            for k in LADDER[:-1]
        ]
    )
    parts.append(f"u AS MATERIALIZED (\n      {union})")
    chain = ",\n    ".join(parts)
    return f"WITH {chain},\n    fin AS ({final_sql('u')})\n    SELECT * FROM fin"


_L32_CHAIN = """l8 AS ({base}),
    led8 AS ({led8}),
    l16 AS ({l16}),
    led16 AS ({led16}),
    l32 AS ({l32})"""


def _l32_chain(spark_dialect: bool) -> str:
    return _L32_CHAIN.format(
        base=base_sql(spark_dialect),
        led8=led_sql(8, "l8"),
        l16=double_sql(16, "led8"),
        led16=led_sql(16, "l16"),
        l32=double_sql(32, "led16"),
    )


def extract_sql(spark_dialect: bool, l32_rel: str | None = None) -> str:
    """The Lee-et-al CUT LIST companion to ``suffix_dup_spans``: the
    top-100 distinct duplicated 32-char substrings corpus-wide, WITH
    their content — what a dedup pass would actually remove.  Runs
    the doubling ladder only to level 32 (base + two rounds); the
    chain is single-consumer end to end (no retired slices needed),
    so it needs no materialization on either engine.  Class id =
    min arrival key, so the representative (doc, pos) is decodable
    from the id itself (doc = key idiv 2^32, pos = key % 2^32) and
    the span text comes from ONE broadcast join of the 100 winners
    back to documents.  Ties broken (occ DESC, cls ASC) — membership
    and order never touch a float."""
    idiv = "div" if spark_dialect else "//"
    src = l32_rel or "l32"
    chain = "" if l32_rel else f"{_l32_chain(spark_dialect)},\n    "
    return f"""WITH {chain}cl AS (
      SELECT cls, CAST(count(*) AS BIGINT) AS occ,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM {src} GROUP BY cls HAVING count(*) >= 2),
    top AS (
      SELECT cls, occ, n_docs,
             CAST(row_number() OVER (ORDER BY occ DESC, cls)
                 AS BIGINT) AS dup_rank
      FROM cl ORDER BY occ DESC, cls LIMIT 100)
    SELECT t.dup_rank, substr(d.text, CAST(t.cls % 4294967296 AS INT),
               32) AS span,
           t.occ, t.n_docs,
           t.cls {idiv} 4294967296 AS rep_doc,
           t.cls % 4294967296 AS rep_pos
    FROM top t JOIN documents d ON d.doc_id = t.cls {idiv} 4294967296"""


def _apply_l32_sql(spark_dialect: bool, l32_rel: str | None = None) -> str:
    """Level-32 chain (base + two doubling rounds), single-consumer.

    Interval merge note (ADVICE r12): ``brk`` fires when pos > the
    running max of prior interval ends, so OVERLAPPING removal windows
    merge but exactly-adjacent ones (pos = prev_e + 1) abut as two
    intervals.  Downstream outputs are invariant either way — the
    kept gap between abutting intervals is empty and filtered by
    ``ks <= ke`` in apply_final_sql — so the split is a representation
    detail, kept stable to preserve the declared queries' interval
    relation."""
    src = l32_rel or "l32"
    chain = "" if l32_rel else f"{_l32_chain(spark_dialect)},\n    "
    return f"""WITH {chain}rm AS (
      SELECT doc_id, n_chars, pos FROM (
        SELECT doc_id, n_chars, pos, key, cls,
               count(*) OVER (PARTITION BY cls) AS occ
        FROM {src}) z
      WHERE occ > 1 AND key <> cls),
    x AS (
      SELECT doc_id, n_chars, pos, pos + 31 AS e,
             CASE WHEN pos > COALESCE(max(pos + 31) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) THEN 1 ELSE 0 END AS brk
      FROM rm)
    SELECT doc_id, n_chars,
           CAST(min(pos) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e
    FROM (SELECT doc_id, n_chars, pos, e,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS grp
          FROM x) g
    GROUP BY doc_id, n_chars, grp"""


def apply_final_sql(iv_rel: str, spark_dialect: bool) -> str:
    """Kept-interval complement of the merged removed intervals, text
    reassembled in interval order, cleaned fingerprint emitted."""
    if spark_dialect:
        assemble = ("concat_ws('', transform(array_sort("
                    "collect_list(struct(ks, piece))), z -> z.piece))")
    else:
        assemble = "string_agg(piece, '' ORDER BY ks)"
    return f"""WITH kept AS (
      SELECT doc_id,
             COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s),
                      0) + 1 AS ks,
             s - 1 AS ke
      FROM {iv_rel}
      UNION ALL
      SELECT doc_id, max(e) + 1 AS ks, max(n_chars) AS ke
      FROM {iv_rel} GROUP BY doc_id),
    stats AS (
      SELECT doc_id, CAST(max(n_chars) AS BIGINT) AS old_len,
             CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
      FROM {iv_rel} GROUP BY doc_id),
    pieces AS (
      SELECT k.doc_id, k.ks,
             substr(d.text, CAST(k.ks AS INT),
                    CAST(k.ke - k.ks + 1 AS INT)) AS piece
      FROM kept k JOIN documents d ON d.doc_id = k.doc_id
      WHERE k.ks <= k.ke),
    built AS (
      SELECT doc_id, {assemble} AS cleaned
      FROM pieces GROUP BY doc_id)
    SELECT s.doc_id, s.old_len, s.removed_chars,
           s.old_len - s.removed_chars AS new_len,
           md5(COALESCE(b.cleaned, '')) AS clean_md5
    FROM stats s LEFT JOIN built b ON b.doc_id = s.doc_id"""


def apply_oracle_sql() -> str:
    """iv feeds kept (twice via the UNION arms), stats, and the
    pieces join -> AS MATERIALIZED (multi-consumer rule; the level
    chain nests as a sub-WITH inside the CTE body)."""
    fin = apply_final_sql("iv", False)
    assert fin.startswith("WITH ")
    return f"""WITH iv AS MATERIALIZED (
      {_apply_l32_sql(False)}),
    {fin[5:]}"""


def flow_sql(spark_dialect: bool, l32_rel: str | None = None) -> str:
    """Cross-source duplication FLOW matrix: for every duplicated
    32-char window, the class representative's source (the earliest
    arrival — where the content 'originates' under the keep-first
    policy) vs the source of each non-representative occurrence
    (who re-hosts it).  The provenance question behind substring
    dedup at corpus scale: which sources copy from which, including
    self-flows.  Level-32 chain single-consumer; two broadcastable
    joins back to documents decode sources for both ends."""
    idiv = "div" if spark_dialect else "//"
    src = l32_rel or "l32"
    chain = "" if l32_rel else f"{_l32_chain(spark_dialect)},\n    "
    return f"""WITH {chain}e AS (
      SELECT doc_id, cls, cls {idiv} 4294967296 AS rep_doc
      FROM (SELECT doc_id, cls, key,
                   count(*) OVER (PARTITION BY cls) AS occ
            FROM {src}) z
      WHERE occ > 1 AND key <> cls)
    SELECT rd.source AS rep_source, dd.source AS dup_source,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(DISTINCT e.cls) AS BIGINT) AS n_classes,
           CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_dup_docs
    FROM e
    JOIN documents rd ON rd.doc_id = e.rep_doc
    JOIN documents dd ON dd.doc_id = e.doc_id
    GROUP BY rd.source, dd.source"""
