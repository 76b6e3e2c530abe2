"""`standardize_title` — the reference's one user-visible operator (M0).

Maps a messy job title to ``"{matched KB variant} - {BLS category}"`` via
tokenize -> Snowball-English stem -> TF-IDF -> cosine -> argmax against the
17,772-variant knowledge base (reference ``src/lib.rs:43-78`` +
``src/utils.rs``).  NULL in -> NULL out (deliberate, documented deviation —
the reference leaves NULL behavior undefined, SURVEY.md §1.1).

Two physical strategies, same observable semantics (property-tested equal):

* **v1 (UDF form)** — an Arrow-batched ``pandas_udf`` over a broadcast
  ``(index, kb)`` pair.  Each Python worker keeps a memo from title to
  formatted output (the reference keys its result map by input string,
  ``utils.rs:139``), so a distinct title reaches the matching kernel at
  most once per worker, across batches, tasks and jobs — not once per
  batch.  The memo belongs to one broadcast value (a new index starts it
  empty) and holds at most ``_MEMO_MAX`` titles; past that it is cleared
  whole.  The index (~4 MB of numpy arrays) is built once on the driver
  and broadcast once per SparkContext — the analogue of the reference's
  temp-file memo (``utils.rs:122-135``).  This is the default: the
  matching kernel is vectorized, the KB side is constant-size, and Spark
  partitions provide the parallelism (the reference's rayon analogue).

* **v2 (DataFrame form)** — ``standardize_titles_df``: distinct titles ->
  tokenize/stem -> explode to (title, term) -> broadcast-hash-join posting
  lists -> partial-product groupBy -> window argmax with
  ``(desc(score), asc(doc_idx))`` (exactly M6's tie-break) -> re-join.
  Fully Catalyst-visible, so filters/pruning push through; use it when the
  title column is a large fraction of the data and global dedup pays.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd

from ..functions.tfidf import TfidfIndex, build_index, best_match_indices
from ..kb import KnowledgeBase, load_kb

_FALLBACK = "None"  # reference lib.rs:63 — unreachable in practice

# ---------------------------------------------------------------------------
# Driver-side singletons (the analogue of the reference's bincode temp-file
# cache, utils.rs:122-135: build once, reuse forever within the process).
# ---------------------------------------------------------------------------
_INDEX: Optional[TfidfIndex] = None
# (SparkContext, Broadcast of (index, kb)): one broadcast per live
# SparkContext, shared by the v1 UDF, the v2 form and the stream.
_BROADCAST: Optional[tuple] = None

# ---------------------------------------------------------------------------
# Python-worker singletons: the v1 UDF's memo, title -> formatted output.
# Spark reuses Python workers across tasks and jobs, and this module's state
# lives as long as the worker.
# ---------------------------------------------------------------------------
_MEMO_MAX = 65536  # titles; the same fixed size as functions/text.py's stem cache
_MEMO: dict[str, str] = {}
_MEMO_OWNER = None  # the broadcast (index, kb) value _MEMO was filled from


def _arrow_df(spark, pdf):
    """createDataFrame through Arrow (JVM-side plan, not a Python RDD)."""
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        return spark.createDataFrame(pdf)
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def get_index() -> TfidfIndex:
    global _INDEX
    if _INDEX is None:
        _INDEX = build_index(list(load_kb().corpus))
    return _INDEX


def match_titles(titles: list[str], index: TfidfIndex | None = None,
                 kb: KnowledgeBase | None = None) -> list[str]:
    """Pure-Python batch matcher (no Spark): the full M0 pipeline for a list
    of strings.  Used by the pandas UDF on each batch's memo misses and by
    unit tests."""
    if index is None:
        index = get_index()
    if kb is None:
        kb = load_kb()
    distinct = list(dict.fromkeys(titles))
    idxs = best_match_indices(index, distinct)
    corpus = kb.corpus
    out: dict[str, str] = {}
    for title, doc_idx in zip(distinct, idxs):
        matched = corpus[doc_idx] if 0 <= doc_idx < len(corpus) else _FALLBACK
        out[title] = f"{matched} - {kb.bls_for(matched)}"
    return [out[t] for t in titles]


def standardize_title_str(title: str) -> str:
    """Single-string convenience (tests, docs)."""
    return match_titles([title])[0]


# ---------------------------------------------------------------------------
# v1: Arrow-batched pandas UDF over a broadcast index
# ---------------------------------------------------------------------------

def _broadcast(spark):
    """The ``(index, kb)`` broadcast of ``spark``'s live SparkContext, made
    on first use.  Only the latest context is held, so a stopped one is
    not pinned."""
    global _BROADCAST
    sc = spark.sparkContext
    if _BROADCAST is None or _BROADCAST[0] is not sc or sc._jsc is None:
        _BROADCAST = (sc, sc.broadcast((get_index(), load_kb())))
    return _BROADCAST[1]


def _standardize_batches(value, batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """The v1 UDF body: standardize each batch through the worker memo.

    A module-level function, so the pickled UDF refers to it by name and
    every task a worker runs shares this module's ``_MEMO``."""
    global _MEMO, _MEMO_OWNER
    index, kb = value
    for s in batches:
        if _MEMO_OWNER is not value:
            _MEMO, _MEMO_OWNER = {}, value
        memo = _MEMO
        codes, uniques = pd.factorize(s)  # NULL -> code -1
        titles = uniques.astype(str).tolist()
        outs = [memo.get(t) for t in titles]
        miss = [i for i, o in enumerate(outs) if o is None]
        if miss:
            fresh = [titles[i] for i in miss]
            scored = match_titles(fresh, index, kb)
            for i, o in zip(miss, scored):
                outs[i] = o
            # every output of this batch is read; only now may we evict
            if len(memo) + len(fresh) > _MEMO_MAX:
                memo.clear()
            memo.update(zip(fresh[:_MEMO_MAX], scored))
        outs.append(None)
        yield pd.Series(np.array(outs, dtype=object).take(codes),
                        index=s.index, dtype=object)


def make_standardize_udf(spark):
    """The v1 pandas UDF over the SparkContext's shared broadcast, so every
    executor Python worker deserializes the index once (not per batch)
    and repeated register() calls reuse one broadcast."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    bc = _broadcast(spark)

    @pandas_udf(StringType())
    def standardize_title(batch_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
        return _standardize_batches(bc.value, batch_iter)

    return standardize_title


# ---------------------------------------------------------------------------
# v2: pure-DataFrame posting-list join form (SURVEY.md §4.3)
# ---------------------------------------------------------------------------

def kb_posting_lists_df(spark):
    """The broadcast doc side: one row per (term_idx, doc_idx, weight).

    Built from the index's numpy arrays through Arrow (a plain-list
    ``createDataFrame`` would plan a Python-RDD source that re-pays a
    non-Arrow worker chain on every downstream action)."""
    import numpy as np
    import pandas as pd

    index = get_index()
    counts = np.diff(index.term_ptr)
    pdf = pd.DataFrame(
        {
            "term_idx": np.repeat(
                np.arange(index.num_terms, dtype=np.int32), counts
            ),
            "doc_idx": index.post_doc.astype(np.int32),
            "d_weight": index.post_weight,
        }
    )
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        return spark.createDataFrame(pdf)
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def standardize_titles_df(spark, df, title_col: str, out_col: str = "standardized_title"):
    """DataFrame-native standardize: adds ``out_col`` to ``df``.

    distinct -> stem/explode (python only for the stemmer) -> broadcast join
    postings -> groupBy dot product -> aggregate argmax via
    max(struct(score, -doc_idx)) (ties -> asc(doc_idx), reproducing
    utils.rs:169-191) -> OOV coalesce to corpus[0] -> re-join.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    index = get_index()
    kb = load_kb()
    bc = _broadcast(spark)

    q_schema = ArrayType(
        StructType(
            [
                StructField("term_idx", LongType()),
                StructField("q_weight", DoubleType()),
            ]
        )
    )

    @pandas_udf(q_schema)
    def q_vectorize(batch_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from ..functions.tfidf import vectorize_query

        idx = bc.value[0]
        for s in batch_iter:
            out = []
            for title in s:
                if title is None:
                    out.append([])
                    continue
                tidxs, weights, qnorm = vectorize_query(idx, str(title))
                if qnorm <= 0.0:
                    out.append([])
                else:
                    out.append(
                        [
                            {"term_idx": int(t), "q_weight": float(w) / qnorm}
                            for t, w in zip(tidxs, weights)
                        ]
                    )
            yield pd.Series(out)

    titles = (
        df.select(F.col(title_col).alias("__title"))
        .where(F.col("__title").isNotNull())
        .distinct()
        # materialize the (small, deduplicated) title set once: it feeds
        # BOTH the scoring path and the OOV left-join base, and without
        # this each consumer re-scans the full source to recompute the
        # distinct — 3 source scans instead of 2 at 100 TB.  Mechanism is
        # deployment-selected (localCheckpoint on local[N], lineage-keeping
        # persist on clusters) via plans.materialize.
    )
    from ..plans.materialize import materialize as _mat

    titles = _mat(titles)

    q = titles.withColumn("__qvec", q_vectorize(F.col("__title")))
    q_terms = q.select(
        "__title", F.explode_outer("__qvec").alias("__t")
    ).select(
        "__title",
        F.col("__t.term_idx").alias("term_idx"),
        F.col("__t.q_weight").alias("q_weight"),
    )

    import numpy as np

    postings = F.broadcast(kb_posting_lists_df(spark))
    norms_df = F.broadcast(
        _arrow_df(
            spark,
            pd.DataFrame(
                {
                    "doc_idx": np.arange(index.num_docs, dtype=np.int32),
                    "doc_norm": index.doc_norms,
                }
            ),
        )
    )

    dots = (
        q_terms.join(postings, "term_idx")
        .groupBy("__title", "doc_idx")
        .agg(F.sum(F.col("q_weight") * F.col("d_weight")).alias("dot"))
        .join(norms_df, "doc_idx")
        .withColumn(
            "score",
            F.when(F.col("doc_norm") > 0.0, F.col("dot") / F.col("doc_norm")).otherwise(
                F.lit(0.0)
            ),
        )
    )

    # Argmax as an AGGREGATE, not a window: max over struct(score,
    # -doc_idx) is lexicographic, so ties go to the LOWEST doc index —
    # exactly the reference tiebreak (utils.rs:169-191, M6).  Unlike
    # row_number() over a window this keeps map-side partial aggregation
    # (the per-title shuffle carries <=1 row per partition, no sort) —
    # at 100 TB the argmax exchange is O(distinct titles), not
    # O(candidate pairs).
    best = (
        dots.groupBy("__title")
        .agg(F.max(F.struct(F.col("score"), (-F.col("doc_idx")).alias("neg_idx"))).alias("__m"))
        .where(F.col("__m.score") > 0.0)
        .select("__title", (-F.col("__m.neg_idx")).alias("doc_idx"))
    )

    # Titles sharing no term with the KB never appear in `best` -> coalesce
    # to corpus[0] ("General Worker"), the reference's zero-score default.
    corpus = kb.corpus
    matched = best.withColumn("doc_idx", F.col("doc_idx").cast("int"))
    corpus_df = F.broadcast(
        _arrow_df(
            spark,
            pd.DataFrame(
                {
                    "doc_idx": pd.array(range(len(corpus)), dtype="int32"),
                    "variant": list(corpus),
                    "formatted": [f"{v} - {kb.bls_for(v)}" for v in corpus],
                }
            ),
        )
    )
    default_out = f"{corpus[0]} - {kb.bls_for(corpus[0])}"
    title_to_out = (
        titles.join(matched, "__title", "left")
        .join(corpus_df, "doc_idx", "left")
        .select(
            "__title",
            F.coalesce(F.col("formatted"), F.lit(default_out)).alias(out_col),
        )
    )

    return df.join(
        title_to_out, df[title_col] == title_to_out["__title"], "left"
    ).drop("__title")
