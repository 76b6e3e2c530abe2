"""Python worker daemon of the traced session: ``pyspark.daemon`` with the
matcher's kernel calls logged.

The traced session starts it instead of ``pyspark.daemon``
(``spark.python.daemon.module=perfbench.evaldaemon``).  Before the daemon
forks any worker it wraps two public entry points of the program:

* ``best_match_indices`` as ``operators.standardize`` looks it up: the v1
  UDF's one kernel call per Arrow batch, with the titles its per-batch
  dedup left;
* ``functions.tfidf.vectorize_query``: the v2 form's ``q_vectorize`` calls
  it once per title (calls made inside ``best_match_indices`` are not
  logged again).

Each call appends one JSON line ``{"g": job group, "form": "v1"|"v2",
"titles": [...]}`` to ``$PERFBENCH_EVAL_LOG/<pid>.jsonl``.  The counts are
read back by ``layers.eval_counts``.
"""

import json
import os

from pyspark import daemon


def _install(log_dir: str) -> None:
    from pyspark import TaskContext

    from duckdb_title_mapper_spark.functions import tfidf
    from duckdb_title_mapper_spark.operators import standardize

    state = {"pid": None, "fd": None, "inner": 0}

    def emit(form, titles):
        if state["pid"] != os.getpid():  # first call in this forked worker
            state["pid"] = os.getpid()
            state["fd"] = os.open(os.path.join(log_dir, f"{state['pid']}.jsonl"),
                                  os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        tc = TaskContext.get()
        group = tc.getLocalProperty("spark.jobGroup.id") if tc else None
        line = json.dumps({"g": group, "form": form, "titles": titles}) + "\n"
        os.write(state["fd"], line.encode())

    best_match_indices = standardize.best_match_indices
    vectorize_query = tfidf.vectorize_query

    def logged_best_match_indices(index, texts):
        emit("v1", list(texts))
        state["inner"] += 1
        try:
            return best_match_indices(index, texts)
        finally:
            state["inner"] -= 1

    def logged_vectorize_query(index, text):
        if not state["inner"]:
            emit("v2", [text])
        return vectorize_query(index, text)

    standardize.best_match_indices = logged_best_match_indices
    tfidf.vectorize_query = logged_vectorize_query


if __name__ == "__main__":
    _install(os.environ["PERFBENCH_EVAL_LOG"])
    daemon.manager()
