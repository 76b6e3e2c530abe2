"""`standardize_title` — the reference's one user-visible operator (M0).

Maps a messy job title to ``"{matched KB variant} - {BLS category}"`` via
tokenize -> Snowball-English stem -> TF-IDF -> cosine -> argmax against the
17,772-variant knowledge base (reference ``src/lib.rs:43-78`` +
``src/utils.rs``).  NULL in -> NULL out (deliberate, documented deviation —
the reference leaves NULL behavior undefined, SURVEY.md §1.1).

One scoring body, :func:`_standardize_batches`, works on Arrow arrays the
way the reference's scalar function works on DuckDB DataChunks
(``lib.rs:46-70``): per batch, ``dictionary_encode`` (NULL -> NULL index),
resolve the batch's distinct titles through the worker memo, then ``take``
the outputs back to row order.  The Python workers that run it never
import pandas: the body builds its output from buffers, because
``pa.array`` imports pandas through pyarrow's pandas shim.

Two physical strategies run that body, same observable semantics
(property-tested equal):

* **v1 (UDF form)** — an iterator ``arrow_udf`` (``ArrowEvalPython``)
  over a broadcast ``(index, kb)`` pair.  Each Python worker keeps a memo
  from title to formatted output (the reference keys its result map by
  input string, ``utils.rs:139``), so a distinct title reaches the
  matching kernel at most once per worker, across batches, tasks and
  jobs — not once per batch.  The memo belongs to one broadcast value (a
  new index starts it empty) and holds at most ``_MEMO_MAX`` titles; past
  that it is cleared whole.  The index (~4 MB of numpy arrays) is built
  once on the driver and broadcast once per SparkContext — the analogue
  of the reference's temp-file memo (``utils.rs:122-135``).  This is the
  default: the matching kernel is vectorized, the KB side is
  constant-size, and Spark partitions provide the parallelism (the
  reference's rayon analogue).  The stream
  (``streaming.windows.standardize_stream``) runs this UDF too.

* **v2 (DataFrame form)** — ``standardize_titles_df``: distinct non-NULL
  titles -> ``mapInArrow`` through the same body (same broadcast, same
  worker memo, same kernel) -> left join back on the title.  The
  ``distinct`` is the only per-title shuffle, so the title set crosses
  the network once however often titles repeat; use it when the title
  column is a large fraction of the data and global dedup pays.  Scoring
  is a Python node, opaque to Catalyst (SCALING.md states the trade).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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
# Python-worker singletons: the scoring body's memo, title -> formatted
# output.  Spark reuses Python workers across tasks and jobs, and this
# module's state lives as long as the worker.
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
    of strings.  Used by the scoring body on each batch's memo misses and
    by unit tests."""
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
# The scoring body, shared by v1, v2 and the stream
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


def _string_array(values: list[str]) -> pa.Array:
    """``values`` (no NULLs) as a ``pa.string()`` array, built from its
    offsets and UTF-8 bytes: ``pa.array`` would import pandas."""
    data = [v.encode() for v in values]
    offsets = np.zeros(len(data) + 1, dtype=np.int32)
    np.cumsum(np.fromiter(map(len, data), np.int64, len(data)), out=offsets[1:])
    return pa.StringArray.from_buffers(len(data), pa.py_buffer(offsets),
                                       pa.py_buffer(b"".join(data)))


def _standardize_batches(value, arrays: Iterator[pa.Array]) -> Iterator[pa.Array]:
    """Standardize each Arrow string array through the worker memo.

    A module-level function, so the pickled UDF refers to it by name and
    every task a worker runs shares this module's ``_MEMO``."""
    global _MEMO, _MEMO_OWNER
    index, kb = value
    for arr in arrays:
        if _MEMO_OWNER is not value:
            _MEMO, _MEMO_OWNER = {}, value
        memo = _MEMO
        enc = pc.dictionary_encode(arr)  # NULL -> NULL index
        titles = enc.dictionary.to_pylist()
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
        yield pc.take(_string_array(outs), enc.indices)


def make_standardize_udf(spark):
    """The v1 Arrow UDF over the SparkContext's shared broadcast, so every
    executor Python worker deserializes the index once (not per batch)
    and repeated register() calls reuse one broadcast."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import StringType

    bc = _broadcast(spark)

    @arrow_udf(StringType())
    def standardize_title(arrays: Iterator[pa.Array]) -> Iterator[pa.Array]:
        return _standardize_batches(bc.value, arrays)

    return standardize_title


# ---------------------------------------------------------------------------
# v2: distinct -> scoring body -> join
# ---------------------------------------------------------------------------

def standardize_titles_df(spark, df, title_col: str, out_col: str = "standardized_title"):
    """DataFrame form of standardize: adds ``out_col`` to ``df``.

    distinct non-NULL titles -> ``mapInArrow`` through
    :func:`_standardize_batches` (on the shared broadcast, so the same
    worker memo) -> left join back on the title.  The ``distinct`` is the
    only per-title exchange; NULL titles find no match and stay NULL."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    bc = _broadcast(spark)

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            titles = batch.column(0)
            (out,) = _standardize_batches(bc.value, [titles])
            yield pa.RecordBatch.from_arrays([titles, out], names=["__title", out_col])

    schema = StructType([StructField("__title", StringType()),
                         StructField(out_col, StringType())])
    title_to_out = (
        df.select(F.col(title_col).alias("__title"))
        .where(F.col("__title").isNotNull())
        .distinct()
        .mapInArrow(score, schema)
    )
    return df.join(
        title_to_out, df[title_col] == title_to_out["__title"], "left"
    ).drop("__title")
