"""Unigram-LM (SentencePiece-style) tokenizer E-step — EXACT rationals.

One EM expectation pass of Kudo 2018 ("Subword Regularization", the
unigram language model SentencePiece trains) over the corpus's bounded
words, computed entirely in integer arithmetic so Spark and DuckDB
agree bit-for-bit:

- WORDS: distinct ``\\w+`` tokens of 2..8 chars (lowercased) with
  corpus frequency ``f``.  The length bound makes the lattice
  CLOSED-FORM: at most 8 positions means the forward/backward
  recursions unroll into a fixed 26-column projection — no driver
  loop, no iteration, no convergence concern.
- SEED VOCAB: every substring piece of length 1..4 (the 26-cell span
  grid), kept when ``len = 1`` (so every word retains a valid
  segmentation and the lattice sum is never zero) or corpus count
  >= 5.  Piece weight ``w`` = 1 + #{powers of 8 <= count} in 1..7 —
  a pure integer CASE ladder, no logarithms, no drift.
- LATTICE: for a word of length n, segmentations are paths over spans
  (i, l); path score = product of piece weights; the model is the
  lattice-normalized unigram LM (score / Z where Z sums all paths).
  Forward ``A[j]`` (paths covering chars 1..j) and backward ``B[j]``
  (paths covering j+1..n) are each a <= 8-step integer recursion over
  the pivoted ``w_i_l`` grid; ``Z = B[0]``.  Weights <= 7 and n <= 8
  bound A, B, Z below ~2e7 — every product fits int64 with 10 digits
  to spare.
- E-STEP: expected count of the piece at span (i, l) is
  ``A[i-1] * w_i_l * B[i+l-1] / Z`` (classic lattice
  forward-backward).  The rational is quantized to EXACT parts-per-
  million by two-step long division (q = num idiv Z; then
  q*1e6 + (rem*1e6) idiv Z — num <= Z so q <= 1, rem*1e6 < 2e13,
  everything int64-safe), then summed corpus-wide weighted by word
  frequency.  idiv is the only dialect split (Spark ``div`` vs DuckDB
  ``//``; all operands provably nonnegative per the house rule).

Scale: one token-explode scan of ``documents`` (the same shape as
every text-analysis query), then all relations are per-DISTINCT-WORD
(26 rows/word max) — sublinear in corpus size.  The pivoted lattice
is ONE row per word; the 26 UNION arms re-scan only the materialized
ab relation.  Multi-consumer relations (spans -> vocab+lattice,
vocab -> lattice+final, ab -> 26 arms) are materialized on Spark
(plans/materialize, per-consumer CTE inlining) and ``AS MATERIALIZED``
in the DuckDB oracle (the x_kcore_peel rule).

Reference scope: the reference engine (src/lib.rs:1-86) tokenizes by
regex only; the unigram axis is the LLM-pipeline extension mandated by
the build brief (tokenizer family: BPE train/step/apply, WordPiece,
fertility — this adds the probabilistic-lattice member).
"""

from __future__ import annotations

# (i, l) span grid: i + l - 1 <= 8, l in 1..4 -> 26 cells
GRID = [(i, l) for l in range(1, 5) for i in range(1, 10 - l)]

MAX_N = 8
PPM = 1000000
# piece-count thresholds for the weight ladder (powers of 8)
W_STEPS = (8, 64, 512, 4096, 32768, 262144)
MIN_CNT = 5


def words_sql(spark_dialect: bool) -> str:
    if spark_dialect:
        tok = r"explode(regexp_extract_all(lower(text), '\\w+', 0))"
    else:
        tok = r"unnest(regexp_extract_all(lower(text), '\w+'))"
    return f"""SELECT tok AS word, CAST(count(*) AS BIGINT) AS f,
           CAST(length(tok) AS BIGINT) AS n
    FROM (SELECT {tok} AS tok FROM documents) t
    WHERE length(tok) BETWEEN 2 AND {MAX_N}
    GROUP BY tok"""


def spans_sql(words_rel: str) -> str:
    grid = ", ".join(f"({i}, {l})" for i, l in GRID)
    return f"""SELECT word, f, n, i, l, substr(word, i, l) AS piece
    FROM {words_rel} CROSS JOIN (VALUES {grid}) AS g(i, l)
    WHERE i + l - 1 <= n"""


def vocab_sql(spans_rel: str) -> str:
    ladder = " + ".join(
        f"CASE WHEN sum(f) >= {t} THEN 1 ELSE 0 END" for t in W_STEPS
    )
    return f"""SELECT piece, CAST(length(piece) AS BIGINT) AS plen,
           CAST(sum(f) AS BIGINT) AS cnt,
           CAST(1 + {ladder} AS BIGINT) AS w
    FROM {spans_rel}
    GROUP BY piece
    HAVING length(piece) = 1 OR sum(f) >= {MIN_CNT}"""


def _wcol(i: int, l: int) -> str:
    return f"w_{i}_{l}"


def ab_sql(spans_rel: str, vocab_rel: str) -> str:
    """Pivot the valid spans to one row per word, then unroll the
    forward (a1..a8) and backward (b8..b0) recursions as nested
    projections (Catalyst collapses them into one).  Spans absent
    from the vocab pivot to weight 0, which zeroes every path through
    them — exactly the lattice semantics."""
    pivot = ", ".join(
        f"max(CASE WHEN i = {i} AND l = {l} THEN w"
        f" ELSE CAST(0 AS BIGINT) END) AS {_wcol(i, l)}"
        for i, l in GRID
    )
    q = f"""SELECT s.word, s.f, s.n, {pivot}
    FROM {spans_rel} s JOIN {vocab_rel} v ON v.piece = s.piece
    GROUP BY s.word, s.f, s.n"""
    # forward: A[0] = 1; A[j] = sum_l w(j-l+1, l) * A[j-l]
    q = f"SELECT *, CAST(1 AS BIGINT) AS a0 FROM ({q}) z0"
    for j in range(1, MAX_N + 1):
        terms = " + ".join(
            f"{_wcol(j - l + 1, l)} * a{j - l}"
            for l in range(1, min(4, j) + 1)
        )
        q = f"SELECT *, {terms} AS a{j} FROM ({q}) za{j}"
    # backward: B[j] = [n = j] + sum_l w(j+1, l) * B[j+l]
    q = (f"SELECT *, CASE WHEN n = {MAX_N} THEN CAST(1 AS BIGINT)"
         f" ELSE CAST(0 AS BIGINT) END AS b{MAX_N} FROM ({q}) zb")
    for j in range(MAX_N - 1, -1, -1):
        terms = " + ".join(
            f"{_wcol(j + 1, l)} * b{j + l}"
            for l in range(1, min(4, MAX_N - j) + 1)
        )
        q = (f"SELECT *, CASE WHEN n = {j} THEN 1 ELSE 0 END"
             f" + {terms} AS b{j} FROM ({q}) zb{j}")
    return q


def final_sql(ab_rel: str, vocab_rel: str, spark_dialect: bool) -> str:
    """26 UNION arms over the materialized lattice (one per grid
    cell), exact-ppm long division, then the corpus-wide E-step sum
    per piece.  num <= z (paths through a span are a subset of all
    paths), so q <= 1 and every intermediate fits int64."""
    idiv = "div" if spark_dialect else "//"
    arms = "\n      UNION ALL ".join(
        f"SELECT word, f, substr(word, {i}, {l}) AS piece,"
        f" a{i - 1} * {_wcol(i, l)} * b{i + l - 1} AS num, b0 AS z"
        f" FROM {ab_rel} WHERE {_wcol(i, l)} > 0"
        for i, l in GRID
    )
    return f"""WITH c AS (
      {arms}),
    p AS (
      SELECT word, f, piece,
             (num {idiv} z) * {PPM}
               + ((num - (num {idiv} z) * z) * {PPM}) {idiv} z AS ppm
      FROM c)
    SELECT v.piece, v.plen, v.w, v.cnt,
           CAST(sum(p.f * p.ppm) AS BIGINT) AS expected_ppm,
           CAST(count(DISTINCT p.word) AS BIGINT) AS n_words
    FROM p JOIN {vocab_rel} v ON v.piece = p.piece
    GROUP BY v.piece, v.plen, v.w, v.cnt"""


def oracle_sql() -> str:
    """The whole chain as one DuckDB query.  spans feeds vocab AND
    the lattice join, vocab feeds the join AND the final, ab feeds 26
    arms — all three carry AS MATERIALIZED (DuckDB 1.0 inlines CTEs
    per consumer, the x_kcore_peel incident)."""
    fin = final_sql("ab", "vocab", False)
    # final_sql opens its own WITH — splice its CTEs into ours
    assert fin.startswith("WITH ")
    return f"""WITH words AS ({words_sql(False)}),
    spans AS MATERIALIZED ({spans_sql('words')}),
    vocab AS MATERIALIZED ({vocab_sql('spans')}),
    ab AS MATERIALIZED ({ab_sql('spans', 'vocab')}),
    {fin[5:]}"""


def unigram_estep(spark, sf_dir: str | None = None):
    """Spark side: materialize the three multi-consumer relations
    once (plans/materialize), then run the final aggregation.  With
    ``sf_dir``, the relations come from the shared store (this query
    OWNS the level-1 build, force=True); without it (unit tests) the
    original inline chain runs."""
    if sf_dir is not None:
        build_unigram_store(spark, sf_dir, level=1, force=True)
        return spark.sql(final_sql("__unist_ab1", "__unist_vocab1", True))
    from ..plans.materialize import materialize

    spans = materialize(
        spark.sql(f"WITH words AS ({words_sql(True)}) {spans_sql('words')}")
    )
    spans.createOrReplaceTempView("__uni_spans")
    vocab = materialize(spark.sql(vocab_sql("__uni_spans")))
    vocab.createOrReplaceTempView("__uni_vocab")
    ab = materialize(spark.sql(ab_sql("__uni_spans", "__uni_vocab")))
    ab.createOrReplaceTempView("__uni_ab")
    return spark.sql(final_sql("__uni_ab", "__uni_vocab", True))


def viterbi_sql(spans_rel: str, vocab_rel: str) -> str:
    """Viterbi max-product DECODE over the same lattice the E-step
    sums (Kudo 2018's inference step — what SentencePiece does at
    tokenize time): M[j] = max_l w(j-l+1, l) * M[j-l] with
    backpointers preferring the SMALLEST piece on ties (the CASE
    ladder tests l = 1..4 in order), then the cut walk unrolls into
    8 closed-form projection layers and the segmentation string is
    rebuilt with concat_ws (both engines skip NULL arguments).
    Pure integer arithmetic + substrings — no dialect split at all;
    singles are always in the vocab, so every word decodes."""
    pivot = ", ".join(
        f"max(CASE WHEN i = {i} AND l = {l} THEN w"
        f" ELSE CAST(0 AS BIGINT) END) AS {_wcol(i, l)}"
        for i, l in GRID
    )
    q = f"""SELECT s.word, s.f, s.n, {pivot}
    FROM {spans_rel} s JOIN {vocab_rel} v ON v.piece = s.piece
    GROUP BY s.word, s.f, s.n"""
    q = f"SELECT *, CAST(1 AS BIGINT) AS m0 FROM ({q}) v0"
    for j in range(1, MAX_N + 1):
        terms = [
            f"{_wcol(j - l + 1, l)} * m{j - l}"
            for l in range(1, min(4, j) + 1)
        ]
        mj = terms[0] if len(terms) == 1 else (
            "greatest(" + ", ".join(terms) + ")")
        q = f"SELECT *, {mj} AS m{j} FROM ({q}) vm{j}"
        arms = " ".join(
            f"WHEN {_wcol(j - l + 1, l)} * m{j - l} = m{j}"
            f" THEN CAST({l} AS BIGINT)"
            for l in range(1, min(4, j) + 1)
        )
        bp = (f"CASE WHEN m{j} = 0 THEN CAST(0 AS BIGINT)"
              f" ELSE CASE {arms} ELSE CAST(0 AS BIGINT) END END")
        q = f"SELECT *, {bp} AS bp{j} FROM ({q}) vb{j}"
    bpat = ("CASE %s "
            + " ".join(f"WHEN {j} THEN bp{j}"
                       for j in range(1, MAX_N + 1))
            + " ELSE CAST(0 AS BIGINT) END")
    q = f"SELECT *, n AS c1 FROM ({q}) vw0"
    for k in range(1, MAX_N + 1):
        lk = (f"CASE WHEN c{k} <= 0 THEN CAST(0 AS BIGINT)"
              f" ELSE {bpat % f'c{k}'} END")
        q = f"SELECT *, {lk} AS l{k} FROM ({q}) vl{k}"
        if k < MAX_N:
            q = f"SELECT *, c{k} - l{k} AS c{k + 1} FROM ({q}) vc{k}"
    score = ("CASE n "
             + " ".join(f"WHEN {j} THEN m{j}"
                        for j in range(2, MAX_N + 1))
             + " ELSE CAST(0 AS BIGINT) END")
    pieces = ", ".join(
        f"CASE WHEN l{k} > 0 THEN substr(word,"
        f" CAST(c{k} - l{k} + 1 AS INT), CAST(l{k} AS INT)) END"
        for k in range(MAX_N, 0, -1)
    )
    n_pieces = " + ".join(
        f"CASE WHEN l{k} > 0 THEN 1 ELSE 0 END"
        for k in range(1, MAX_N + 1)
    )
    return f"""SELECT word, f, n, {score} AS best_score,
           CAST({n_pieces} AS BIGINT) AS n_pieces,
           concat_ws('|', {pieces}) AS seg
    FROM ({q}) vfin"""


def viterbi_oracle_sql() -> str:
    """spans feeds vocab AND the lattice pivot -> AS MATERIALIZED."""
    return f"""WITH words AS ({words_sql(False)}),
    spans AS MATERIALIZED ({spans_sql('words')}),
    vocab AS MATERIALIZED ({vocab_sql('spans')})
    {viterbi_sql('spans', 'vocab')}"""


def unigram_segment(spark, sf_dir: str | None = None):
    if sf_dir is not None:
        build_unigram_store(spark, sf_dir, level=1)  # cache-hit
        return spark.sql(viterbi_sql("__unist_spans", "__unist_vocab1"))
    from ..plans.materialize import materialize

    spans = materialize(
        spark.sql(f"WITH words AS ({words_sql(True)}) {spans_sql('words')}")
    )
    spans.createOrReplaceTempView("__uni_spans")
    vocab = materialize(spark.sql(vocab_sql("__uni_spans")))
    vocab.createOrReplaceTempView("__uni_vocab")
    return spark.sql(viterbi_sql("__uni_spans", "__uni_vocab"))


# M-step thresholds for iteration 2: expected-count ppm octaves
# (powers of 8 scaled by PPM — the same ladder shape as W_STEPS)
E_STEPS = tuple(t * PPM for t in (8, 64, 512, 4096, 32768, 262144))


def vocab2_sql(fin1_rel: str) -> str:
    """M-step: iteration-2 piece weights from iteration-1 expected
    counts (the same 1..7 integer octave ladder, applied to the
    exact ppm sufficient statistic instead of the raw seed counts).
    Every iteration-1 piece survives with w >= 1, so all lattices
    keep their mass."""
    ladder = " + ".join(
        f"CASE WHEN expected_ppm >= {t} THEN 1 ELSE 0 END"
        for t in E_STEPS
    )
    return f"""SELECT piece, plen, cnt,
           CAST(1 + {ladder} AS BIGINT) AS w
    FROM {fin1_rel}"""


def oracle2_sql() -> str:
    """Two full EM iterations unrolled: seed vocab -> E-step 1 ->
    octave M-step -> E-step 2.  Every multi-consumer relation
    (spans, both vocabs, both lattices, the iteration-1 result)
    carries AS MATERIALIZED."""
    fin1 = final_sql("ab1", "vocab1", False)
    fin2 = final_sql("ab2", "vocab2", False)
    assert fin1.startswith("WITH ") and fin2.startswith("WITH ")
    # fin1 nests as its own sub-WITH inside the CTE body, so its
    # internal c/p names stay scoped and cannot collide with fin2's
    return f"""WITH words AS ({words_sql(False)}),
    spans AS MATERIALIZED ({spans_sql('words')}),
    vocab1 AS MATERIALIZED ({vocab_sql('spans')}),
    ab1 AS MATERIALIZED ({ab_sql('spans', 'vocab1')}),
    fin1 AS MATERIALIZED (
      {fin1}),
    vocab2 AS MATERIALIZED ({vocab2_sql('fin1')}),
    ab2 AS MATERIALIZED ({ab_sql('spans', 'vocab2')}),
    {fin2[5:]}"""


def unigram_estep2(spark, sf_dir: str | None = None):
    """Spark side: the iteration-1 chain materialized, the octave
    M-step, then the second lattice + E-step.  With ``sf_dir``, the
    iteration-1 prefix cache-hits the store and this query OWNS the
    level-2 build."""
    if sf_dir is not None:
        build_unigram_store(spark, sf_dir, level=2, force=True)
        return spark.sql(final_sql("__unist_ab2", "__unist_vocab2", True))
    from ..plans.materialize import materialize

    spans = materialize(
        spark.sql(f"WITH words AS ({words_sql(True)}) {spans_sql('words')}")
    )
    spans.createOrReplaceTempView("__uni2_spans")
    vocab1 = materialize(spark.sql(vocab_sql("__uni2_spans")))
    vocab1.createOrReplaceTempView("__uni2_vocab1")
    ab1 = materialize(spark.sql(ab_sql("__uni2_spans", "__uni2_vocab1")))
    ab1.createOrReplaceTempView("__uni2_ab1")
    fin1 = materialize(
        spark.sql(final_sql("__uni2_ab1", "__uni2_vocab1", True)))
    fin1.createOrReplaceTempView("__uni2_fin1")
    vocab2 = materialize(spark.sql(vocab2_sql("__uni2_fin1")))
    vocab2.createOrReplaceTempView("__uni2_vocab2")
    ab2 = materialize(spark.sql(ab_sql("__uni2_spans", "__uni2_vocab2")))
    ab2.createOrReplaceTempView("__uni2_ab2")
    return spark.sql(final_sql("__uni2_ab2", "__uni2_vocab2", True))


# Prune fraction: keep the top 4/5 of multi-char pieces by loss
# (Kudo 2018 §3.2 drops the bottom ~20% per outer iteration).
PRUNE_KEEP_NUM, PRUNE_KEEP_DEN = 4, 5


def excl_sql(ab_rel: str) -> str:
    """Counterfactual lattices for the PRUNE step (Kudo 2018 §3.2):
    for every (word, multi-char piece p present in the word's
    lattice), zero EVERY span carrying p and recompute the forward
    recursion closed-form, giving Z_without = total path weight
    avoiding p.  Singles are never candidates (SentencePiece keeps
    them so all words stay decodable).  One row per (word, distinct
    multi piece) <= 21 rows/word; same int64 bounds as the base
    lattice (weights <= 7, n <= 8)."""
    arms = "\n      UNION ALL ".join(
        f"SELECT word, substr(word, {i}, {l}) AS excl"
        f" FROM {ab_rel} WHERE {_wcol(i, l)} > 0"
        for i, l in GRID if l >= 2
    )
    q = f"""SELECT c.excl, t.*
    FROM (SELECT word, excl FROM ({arms}) u GROUP BY word, excl) c
    JOIN {ab_rel} t ON t.word = c.word"""
    # zeroed weight grid: every span whose text equals the excluded
    # piece drops to 0 (a piece may occupy several spans of one word)
    wz = ", ".join(
        (f"CASE WHEN substr(word, {i}, {l}) = excl THEN CAST(0 AS BIGINT)"
         f" ELSE {_wcol(i, l)} END AS wz_{i}_{l}") if l >= 2
        else f"{_wcol(i, l)} AS wz_{i}_{l}"
        for i, l in GRID
    )
    q = f"SELECT excl, word, f, n, b0 AS z, {wz} FROM ({q}) e0"
    q = f"SELECT *, CAST(1 AS BIGINT) AS x0 FROM ({q}) e1"
    for j in range(1, MAX_N + 1):
        terms = " + ".join(
            f"wz_{j - l + 1}_{l} * x{j - l}"
            for l in range(1, min(4, j) + 1)
        )
        q = f"SELECT *, {terms} AS x{j} FROM ({q}) ex{j}"
    zwo = ("CASE n "
           + " ".join(f"WHEN {j} THEN x{j}"
                      for j in range(2, MAX_N + 1))
           + " ELSE CAST(0 AS BIGINT) END")
    return f"""SELECT excl AS piece, word, f, z, {zwo} AS zwo
    FROM ({q}) efin"""


def loss_sql(excl_rel: str, spark_dialect: bool) -> str:
    """Per-piece pruning loss, exact integers: the frequency-weighted
    lattice mass LOST when the piece is removed, in parts-per-million
    of each word's total mass — sum_w f_w * (PPM - ppm(Z_wo/Z)).
    This is the linear-loss surrogate for Kudo's log-likelihood drop
    (documented deviation: log() drifts cross-engine; the ranking it
    induces is the same monotone notion of 'how much probability mass
    rides on this piece').  zwo < z strictly whenever the piece has
    weight, so every candidate's loss >= its word frequency; ties
    break on piece text.  Same two-step long division as the E-step
    (zwo <= z, everything < 2e13)."""
    idiv = "div" if spark_dialect else "//"
    ppm = (f"(zwo {idiv} z) * {PPM}"
           f" + ((zwo - (zwo {idiv} z) * z) * {PPM}) {idiv} z")
    return f"""SELECT piece,
           CAST(sum(f * ({PPM} - ({ppm}))) AS BIGINT) AS loss_ppm,
           CAST(count(*) AS BIGINT) AS n_words_hit
    FROM {excl_rel}
    GROUP BY piece"""


def prune_sql(fin_rel: str, loss_rel: str) -> str:
    """The prune decision + re-normalized final vocab: singles are
    always kept (rank 0); multi-char pieces rank by (loss DESC, piece
    ASC) — a total order, piece is unique — and the top
    PRUNE_KEEP_NUM/PRUNE_KEEP_DEN survive (rank*DEN <= count*NUM
    avoids integer division entirely).  Survivors get iteration-3
    weights from the octave ladder over the iteration-2 expected
    counts (the vocab2_sql M-step applied post-prune = SentencePiece's
    re-estimate after dropping pieces); pruned pieces get w_final 0."""
    ladder = " + ".join(
        f"CASE WHEN expected_ppm >= {t} THEN 1 ELSE 0 END"
        for t in E_STEPS
    )
    q = f"""SELECT fn.piece, fn.plen, fn.w, fn.cnt, fn.expected_ppm,
           coalesce(lo.loss_ppm, CAST(0 AS BIGINT)) AS loss_ppm,
           coalesce(lo.n_words_hit, CAST(0 AS BIGINT)) AS n_words_hit,
           CASE WHEN fn.plen = 1 THEN CAST(0 AS BIGINT)
                ELSE CAST(row_number() OVER (
                  PARTITION BY CASE WHEN fn.plen = 1 THEN 0 ELSE 1 END
                  ORDER BY coalesce(lo.loss_ppm, CAST(0 AS BIGINT)) DESC,
                           fn.piece ASC) AS BIGINT) END AS prune_rank,
           CAST(sum(CASE WHEN fn.plen = 1 THEN 0 ELSE 1 END)
                OVER () AS BIGINT) AS n_multi
    FROM {fin_rel} fn LEFT JOIN {loss_rel} lo ON lo.piece = fn.piece"""
    return f"""SELECT piece, plen, w, cnt, expected_ppm, loss_ppm,
           n_words_hit, prune_rank,
           CASE WHEN plen = 1 THEN CAST(1 AS BIGINT)
                WHEN prune_rank * {PRUNE_KEEP_DEN}
                     <= n_multi * {PRUNE_KEEP_NUM} THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS kept,
           CASE WHEN plen = 1 OR prune_rank * {PRUNE_KEEP_DEN}
                     <= n_multi * {PRUNE_KEEP_NUM}
                THEN CAST(1 + {ladder} AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS w_final
    FROM ({q}) pr"""


def prune_oracle_sql() -> str:
    """Full train chain as one DuckDB query: seed -> EM x2 -> prune.
    ab2 now has THREE consumers (fin2, the exclusion arms via 21
    UNION branches); every multi-consumer relation carries
    AS MATERIALIZED (the x_kcore_peel rule)."""
    fin1 = final_sql("ab1", "vocab1", False)
    fin2 = final_sql("ab2", "vocab2", False)
    assert fin1.startswith("WITH ") and fin2.startswith("WITH ")
    return f"""WITH words AS ({words_sql(False)}),
    spans AS MATERIALIZED ({spans_sql('words')}),
    vocab1 AS MATERIALIZED ({vocab_sql('spans')}),
    ab1 AS MATERIALIZED ({ab_sql('spans', 'vocab1')}),
    fin1 AS MATERIALIZED (
      {fin1}),
    vocab2 AS MATERIALIZED ({vocab2_sql('fin1')}),
    ab2 AS MATERIALIZED ({ab_sql('spans', 'vocab2')}),
    fin2 AS MATERIALIZED (
      {fin2}),
    excl AS MATERIALIZED ({excl_sql('ab2')}),
    loss AS MATERIALIZED ({loss_sql('excl', False)})
    {prune_sql('fin2', 'loss')}"""


def viterbi_min_sql(spans_rel: str, vocab_rel: str) -> str:
    """MIN-PIECES decode over the vocab lattice (the minimal-
    tokenization objective WordPiece-style tokenizers optimize, as
    opposed to viterbi_sql's max-product): C[j] = min over valid
    spans of C[j-l] + 1, backpointers preferring the LONGEST piece on
    ties (the CASE ladder tests l = 4..1), then the same closed-form
    cut walk.  Validity-only scoring — no weights in the objective —
    so it is trivially integer-exact, and vocab PRUNING visibly
    changes both the count and the segmentation (under the octave
    max-product, singles dominate every decode on this corpus and
    pruning is invisible; see x_unigram_apply_pruned)."""
    big = 99
    pivot = ", ".join(
        f"max(CASE WHEN i = {i} AND l = {l} THEN 1"
        f" ELSE 0 END) AS v_{i}_{l}"
        for i, l in GRID
    )
    q = f"""SELECT s.word, s.f, s.n, {pivot}
    FROM {spans_rel} s JOIN {vocab_rel} v ON v.piece = s.piece
    GROUP BY s.word, s.f, s.n"""
    q = f"SELECT *, CAST(0 AS BIGINT) AS c0 FROM ({q}) n0"
    for j in range(1, MAX_N + 1):
        terms = [
            f"CASE WHEN v_{j - l + 1}_{l} = 1 THEN c{j - l} + 1"
            f" ELSE CAST({big} AS BIGINT) END"
            for l in range(1, min(4, j) + 1)
        ]
        cj = terms[0] if len(terms) == 1 else (
            "least(" + ", ".join(terms) + ")")
        q = f"SELECT *, {cj} AS c{j} FROM ({q}) nm{j}"
        arms = " ".join(
            f"WHEN v_{j - l + 1}_{l} = 1 AND c{j - l} + 1 = c{j}"
            f" THEN CAST({l} AS BIGINT)"
            for l in range(min(4, j), 0, -1)
        )
        bp = (f"CASE WHEN c{j} >= {big} THEN CAST(0 AS BIGINT)"
              f" ELSE CASE {arms} ELSE CAST(0 AS BIGINT) END END")
        q = f"SELECT *, {bp} AS bp{j} FROM ({q}) nb{j}"
    bpat = ("CASE %s "
            + " ".join(f"WHEN {j} THEN bp{j}"
                       for j in range(1, MAX_N + 1))
            + " ELSE CAST(0 AS BIGINT) END")
    q = f"SELECT *, n AS k1 FROM ({q}) nw0"
    for k in range(1, MAX_N + 1):
        lk = (f"CASE WHEN k{k} <= 0 THEN CAST(0 AS BIGINT)"
              f" ELSE {bpat % f'k{k}'} END")
        q = f"SELECT *, {lk} AS g{k} FROM ({q}) nl{k}"
        if k < MAX_N:
            q = f"SELECT *, k{k} - g{k} AS k{k + 1} FROM ({q}) nc{k}"
    n_pieces = ("CASE n "
                + " ".join(f"WHEN {j} THEN c{j}"
                           for j in range(2, MAX_N + 1))
                + " ELSE CAST(0 AS BIGINT) END")
    pieces = ", ".join(
        f"CASE WHEN g{k} > 0 THEN substr(word,"
        f" CAST(k{k} - g{k} + 1 AS INT), CAST(g{k} AS INT)) END"
        for k in range(MAX_N, 0, -1)
    )
    return f"""SELECT word, f, n,
           CAST({n_pieces} AS BIGINT) AS n_pieces,
           concat_ws('|', {pieces}) AS seg
    FROM ({q}) nfin"""


def vocab3_sql(prune_rel: str) -> str:
    """The post-prune vocabulary: survivors with their re-estimated
    octave weights (w_final).  Singles always survive, so every word
    still decodes."""
    return (f"SELECT piece, w_final AS w FROM {prune_rel}"
            " WHERE kept = 1")


def apply_pruned_sql(vit2_rel: str, vit3_rel: str) -> str:
    """Join the full-vocab and pruned-vocab min-pieces decodes per
    word: the fertility regression pruning causes, measured in-row
    (pieces_pruned >= pieces_full always — removing pieces can only
    lengthen the minimal segmentation)."""
    return f"""SELECT a.word, a.f, a.n,
           a.n_pieces AS pieces_full, b.n_pieces AS pieces_pruned,
           CASE WHEN a.seg = b.seg THEN CAST(0 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS seg_changed,
           a.seg AS seg_full, b.seg AS seg_pruned
    FROM {vit2_rel} a JOIN {vit3_rel} b ON b.word = a.word"""


def apply_pruned_oracle_sql() -> str:
    """Full train -> prune -> APPLY chain as one DuckDB query: the
    prune_oracle_sql chain, plus the pruned vocab and two Viterbi
    decodes (under vocab2 and vocab3) joined per word.  spans now
    feeds both lattices AND both Viterbi pivots; everything
    multi-consumer carries AS MATERIALIZED."""
    fin1 = final_sql("ab1", "vocab1", False)
    fin2 = final_sql("ab2", "vocab2", False)
    assert fin1.startswith("WITH ") and fin2.startswith("WITH ")
    return f"""WITH words AS ({words_sql(False)}),
    spans AS MATERIALIZED ({spans_sql('words')}),
    vocab1 AS MATERIALIZED ({vocab_sql('spans')}),
    ab1 AS MATERIALIZED ({ab_sql('spans', 'vocab1')}),
    fin1 AS MATERIALIZED (
      {fin1}),
    vocab2 AS MATERIALIZED ({vocab2_sql('fin1')}),
    ab2 AS MATERIALIZED ({ab_sql('spans', 'vocab2')}),
    fin2 AS MATERIALIZED (
      {fin2}),
    excl AS MATERIALIZED ({excl_sql('ab2')}),
    loss AS MATERIALIZED ({loss_sql('excl', False)}),
    prune AS MATERIALIZED ({prune_sql('fin2', 'loss')}),
    vocab3 AS MATERIALIZED ({vocab3_sql('prune')}),
    vit2 AS MATERIALIZED ({viterbi_min_sql('spans', 'vocab2')}),
    vit3 AS MATERIALIZED ({viterbi_min_sql('spans', 'vocab3')})
    {apply_pruned_sql('vit2', 'vit3')}"""


def unigram_apply_pruned(spark, sf_dir: str | None = None):
    """Spark side: the prune chain under fresh __unia_* view names,
    then both Viterbi decodes and the per-word join.  With ``sf_dir``
    the whole prune chain cache-hits the store and only vocab3 + the
    two decodes + the join run here."""
    from ..plans.materialize import materialize

    def mat(name, sql):
        df = materialize(spark.sql(sql))
        df.createOrReplaceTempView(name)
        return df

    if sf_dir is not None:
        build_unigram_store(spark, sf_dir, level=3)  # cache-hit
        mat("__unia_vocab3", vocab3_sql("__unist_prune"))
        mat("__unia_vit2",
            viterbi_min_sql("__unist_spans", "__unist_vocab2"))
        mat("__unia_vit3",
            viterbi_min_sql("__unist_spans", "__unia_vocab3"))
        return spark.sql(apply_pruned_sql("__unia_vit2", "__unia_vit3"))

    mat("__unia_spans",
        f"WITH words AS ({words_sql(True)}) {spans_sql('words')}")
    mat("__unia_vocab1", vocab_sql("__unia_spans"))
    mat("__unia_ab1", ab_sql("__unia_spans", "__unia_vocab1"))
    mat("__unia_fin1", final_sql("__unia_ab1", "__unia_vocab1", True))
    mat("__unia_vocab2", vocab2_sql("__unia_fin1"))
    mat("__unia_ab2", ab_sql("__unia_spans", "__unia_vocab2"))
    mat("__unia_fin2", final_sql("__unia_ab2", "__unia_vocab2", True))
    mat("__unia_excl", excl_sql("__unia_ab2"))
    mat("__unia_loss", loss_sql("__unia_excl", True))
    mat("__unia_prune", prune_sql("__unia_fin2", "__unia_loss"))
    mat("__unia_vocab3", vocab3_sql("__unia_prune"))
    mat("__unia_vit2", viterbi_min_sql("__unia_spans", "__unia_vocab2"))
    mat("__unia_vit3", viterbi_min_sql("__unia_spans", "__unia_vocab3"))
    return spark.sql(apply_pruned_sql("__unia_vit2", "__unia_vit3"))


def unigram_prune(spark, sf_dir: str | None = None):
    """Spark side of the prune step: the estep2 chain with fresh view
    names (per-name caching rule), then counterfactual lattices ->
    loss -> prune decision.  Each multi-consumer relation is
    materialized once; the 21 exclusion arms re-scan only the
    materialized ab2.  With ``sf_dir`` the estep2 prefix cache-hits
    the store and this query OWNS the level-3 (prune) build."""
    if sf_dir is not None:
        levels = build_unigram_store(spark, sf_dir, level=3, force=True)
        return levels[3]["__unist_prune"]
    from ..plans.materialize import materialize

    spans = materialize(
        spark.sql(f"WITH words AS ({words_sql(True)}) {spans_sql('words')}")
    )
    spans.createOrReplaceTempView("__unip_spans")
    vocab1 = materialize(spark.sql(vocab_sql("__unip_spans")))
    vocab1.createOrReplaceTempView("__unip_vocab1")
    ab1 = materialize(spark.sql(ab_sql("__unip_spans", "__unip_vocab1")))
    ab1.createOrReplaceTempView("__unip_ab1")
    fin1 = materialize(
        spark.sql(final_sql("__unip_ab1", "__unip_vocab1", True)))
    fin1.createOrReplaceTempView("__unip_fin1")
    vocab2 = materialize(spark.sql(vocab2_sql("__unip_fin1")))
    vocab2.createOrReplaceTempView("__unip_vocab2")
    ab2 = materialize(spark.sql(ab_sql("__unip_spans", "__unip_vocab2")))
    ab2.createOrReplaceTempView("__unip_ab2")
    fin2 = materialize(
        spark.sql(final_sql("__unip_ab2", "__unip_vocab2", True)))
    fin2.createOrReplaceTempView("__unip_fin2")
    excl = materialize(spark.sql(excl_sql("__unip_ab2")))
    excl.createOrReplaceTempView("__unip_excl")
    loss = materialize(spark.sql(loss_sql("__unip_excl", True)))
    loss.createOrReplaceTempView("__unip_loss")
    return spark.sql(prune_sql("__unip_fin2", "__unip_loss"))


# ---------------------------------------------------------------------------
# shared EM-chain store (r15 optimization)
# ---------------------------------------------------------------------------

# Store levels: 1 = spans / vocab1 / ab1 (the iteration-1 lattice
# inputs); 2 = vocab2 / ab2 / fin2 (the full 2-iteration EM chain --
# fin1 is a build-internal localCheckpoint, never written to the
# store); 3 = prune (the counterfactual-loss prune decision).


def _store_level(spark, lv: int):
    """The ``build(put)`` of store level ``lv``; it reads the lower
    levels through their ``__unist_*`` views."""
    from ..plans.materialize import materialize

    def build(put):
        if lv == 1:
            put("__unist_spans", spark.sql(
                f"WITH words AS ({words_sql(True)}) {spans_sql('words')}"))
            put("__unist_vocab1", spark.sql(vocab_sql("__unist_spans")))
            put("__unist_ab1", spark.sql(
                ab_sql("__unist_spans", "__unist_vocab1")))
        elif lv == 2:
            # fin1 has no downstream consumer outside this level
            # (only vocab2 derives from it) — checkpoint, don't store
            fin1 = materialize(spark.sql(
                final_sql("__unist_ab1", "__unist_vocab1", True)))
            fin1.createOrReplaceTempView("__unist_fin1")
            put("__unist_vocab2", spark.sql(vocab2_sql("__unist_fin1")))
            put("__unist_ab2", spark.sql(
                ab_sql("__unist_spans", "__unist_vocab2")))
            put("__unist_fin2", spark.sql(
                final_sql("__unist_ab2", "__unist_vocab2", True)))
        else:
            # excl/loss are prune-internal: single downstream consumer
            # each beyond the prune relation, so they materialize
            # locally and only the decision relation is stored
            excl = materialize(spark.sql(excl_sql("__unist_ab2")))
            excl.createOrReplaceTempView("__unist_excl")
            loss = materialize(spark.sql(loss_sql("__unist_excl", True)))
            loss.createOrReplaceTempView("__unist_loss")
            put("__unist_prune", spark.sql(
                prune_sql("__unist_fin2", "__unist_loss")))

    return build


def build_unigram_store(spark, sf_dir: str, level: int = 1,
                        force: bool = False):
    """Build (or fetch) the parquet-backed unigram EM-chain store up to
    ``level``, register every stored relation as ``__unist_<name>`` and
    return ``{level: {view name: DataFrame}}``.

    r15 optimization (guide §1.2 — remove repeated passes): FIVE
    queries re-derived overlapping prefixes of the same deterministic
    chain per run (estep: spans..ab1; segment: spans+vocab1; estep2:
    spans..fin2; prune: ..+excl/loss; apply_pruned: the whole thing
    plus two Viterbi decodes — 13 materializations).  Each level is
    one ``plans/tmpstore.versioned_store`` entry, rebuilt per
    session/run, never across runs.  Ownership follows bench order:
    x_unigram_lm_estep owns level 1 (force), x_unigram_lm_estep2 level
    2, x_unigram_prune_step level 3; consumers cache-hit.  ``force``
    rebuilds only the TOP requested level (lower levels rebuild only if
    missing — their content is deterministic, so a newer lower level
    never invalidates a built higher one)."""
    from ..plans.tmpstore import versioned_store

    return {lv: versioned_store(spark, "unigram", sf_dir,
                                _store_level(spark, lv), extra=(f"l{lv}",),
                                force=force and lv == level)
            for lv in range(1, level + 1)}
