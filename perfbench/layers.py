"""Per-layer measurement from outside the program.

* ``Tracer`` labels each operation with a Spark job group
  (``p{pass}:{op}``), wraps ``plans.materialize.materialize``,
  ``materialize_adaptive`` and ``release`` before the workload module is
  imported, registers a ``StreamingQueryListener``, and parses the event
  log of the benchmark's own session (written with
  ``spark.eventLog.enabled``, ``compress=false`` and
  ``rolling.enabled=false``) into per-operation job, stage, task, plan
  and Python-UDF tables, joined with the matcher calls the session's
  worker daemon logged (``evaldaemon``).
* ``kernel_metrics`` times the matcher's public kernel functions
  in-process on the run's own titles.
* ``udf_node`` reads the Python UDF node of the latest SQL execution from
  the session's live SQL status store; it needs no event log, so the
  untraced run uses it to prove the timed plan ran the matcher.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import statistics
import time
from collections import defaultdict

PY_NODE = "ArrowEvalPython"
PY_METRICS = {
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to run Python workers": "udf.python_run_s",
    "data sent to Python workers": "udf.bytes_sent",
    "data returned from Python workers": "udf.bytes_received",
    "number of output rows": "udf.rows",
}
SPARK_KEYS = (
    "catalyst.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.stage_wall_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.aqe_replans", "plan.bhj", "plan.smj",
    "plan.exchanges",
) + tuple(PY_METRICS.values())


class Tracer:
    def __init__(self, work: str):
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.eval_log = os.path.join(work, "evallog")
        self.group = None
        self.mat = defaultdict(lambda: defaultdict(float))
        self._pending = []  # (group, materialized DataFrame) awaiting a row count
        self._depth = 0
        self.stream_group = {}  # streaming query run id -> job group at start
        self.stream_done = set()
        self.stream_progress = []  # (run id, trigger execution ms)

    # -- labels ----------------------------------------------------------
    def begin(self, spark, group: str) -> None:
        self.group = group
        spark.sparkContext.setJobGroup(group, group)

    def end(self, spark, timeout: float = 10.0) -> None:
        """Count the rows of this operation's materializations under a
        job group of their own, and wait for the listener to see each of
        its streaming queries end, outside the operation's timing."""
        spark.sparkContext.setJobGroup("trace:count", "trace:count")
        for group, df in self._pending:
            self.mat[group]["materialize.rows"] += df.count()
        self._pending.clear()
        deadline = time.time() + timeout
        while set(self.stream_group) - self.stream_done and time.time() < deadline:
            time.sleep(0.02)
        self.group = None

    # -- streaming listener ------------------------------------------------
    def listen(self, spark) -> None:
        """Register the listener.  Spark delivers ``QueryStartedEvent`` to
        a session's listeners synchronously, in the thread that starts the
        query, so the current job group labels the run; progress and
        termination arrive later on the listener bus."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_group[str(event.runId)] = tracer.group

            def onQueryProgress(self, event):
                p = event.progress
                tracer.stream_progress.append(
                    (str(p.runId), float(p.durationMs.get("triggerExecution", 0))))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.stream_done.add(str(event.runId))

        spark.streams.addListener(Listener())

    # -- plans.materialize wrappers ----------------------------------------
    def install(self) -> None:
        from duckdb_title_mapper_spark.plans import materialize as mod

        for name in ("materialize", "materialize_adaptive"):
            setattr(mod, name, self._wrap(getattr(mod, name)))
        release = mod.release

        def traced_release(df, *a, **kw):
            if self.group is not None:
                self.mat[self.group]["materialize.releases"] += 1
            return release(df, *a, **kw)

        mod.release = traced_release

    def _wrap(self, fn):
        def traced(df, *a, **kw):
            if self._depth:  # materialize_adaptive calls materialize
                return fn(df, *a, **kw)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                out = fn(df, *a, **kw)
            finally:
                self._depth -= 1
            if self.group is not None:
                m = self.mat[self.group]
                m["materialize.calls"] += 1
                m["materialize.s"] += time.perf_counter() - t0
                self._pending.append((self.group, out))
            return out

        return traced

    # -- event log, matcher calls, listener ---------------------------------
    def parse(self) -> dict[str, dict]:
        """{job group: {metric: value}} over everything traced."""
        out = self._parse_eventlog()
        for g, m in self.mat.items():
            out.setdefault(g, {}).update(m)
        for g, m in eval_counts(self.eval_log).items():
            out.setdefault(g, {}).update(m)
        for run_id, ms in self.stream_progress:
            g = self.stream_group.get(run_id)
            if g is not None:
                o = out.setdefault(g, {})
                o["streaming.batches"] = o.get("streaming.batches", 0) + 1
                o["streaming.batch_s"] = o.get("streaming.batch_s", 0.0) + ms / 1e3
        return out

    def _parse_eventlog(self) -> dict[str, dict]:
        """Event log -> {job group: {metric: value}}."""
        jobs, stage_job, stages = {}, {}, {}
        task = defaultdict(lambda: defaultdict(float))
        acc = defaultdict(float)
        plans, exec_start, replans = defaultdict(list), {}, defaultdict(int)
        for path in glob.glob(os.path.join(self.eventlog_dir, "*")):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    ev = e["Event"].rsplit(".", 1)[-1]
                    if ev == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        jobs[e["Job ID"]] = (props.get("spark.jobGroup.id"),
                                             props.get("spark.sql.execution.id"),
                                             e["Submission Time"])
                        for s in e["Stage IDs"]:
                            stage_job.setdefault(s, e["Job ID"])
                    elif ev == "SparkListenerStageCompleted":
                        si = e["Stage Info"]
                        stages[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = (
                            si["Stage ID"],
                            (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3)
                    elif ev == "SparkListenerTaskEnd":
                        t = task[e["Stage ID"]]
                        m = e.get("Task Metrics") or {}
                        t["tasks"] += 1
                        t["run"] += m.get("Executor Run Time", 0) / 1e3
                        t["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                        t["gc"] += m.get("JVM GC Time", 0) / 1e3
                        r = m.get("Shuffle Read Metrics") or {}
                        t["sread"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                        t["swrite"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        for a in (e.get("Task Info") or {}).get("Accumulables", []):
                            try:  # SQL metric updates are logged as strings
                                acc[a["ID"]] += float(a["Update"])
                            except (KeyError, TypeError, ValueError):
                                pass
                    elif ev == "SparkListenerSQLExecutionStart":
                        exec_start[e["executionId"]] = e["time"]
                        plans[e["executionId"]].append(e["sparkPlanInfo"])
                    elif ev == "SparkListenerSQLAdaptiveExecutionUpdate":
                        plans[e["executionId"]].append(e["sparkPlanInfo"])
                        replans[e["executionId"]] += 1
                    elif ev == "SparkListenerDriverAccumUpdates":
                        for aid, v in e["accumUpdates"]:
                            acc[aid] += v

        out = defaultdict(lambda: defaultdict(float))
        group_execs = defaultdict(dict)  # group -> exec id -> first job time
        for group, ex, sub in jobs.values():
            if group is None:
                continue
            out[group]["spark.jobs"] += 1
            if ex is not None:
                ex = int(ex)
                prev = group_execs[group].get(ex)
                group_execs[group][ex] = sub if prev is None else min(prev, sub)
        for sid, wall in stages.values():
            group = jobs.get(stage_job.get(sid), (None,))[0]
            if group is None:
                continue
            o, t = out[group], task[sid]
            o["spark.stages"] += 1
            o["spark.stage_wall_s"] += wall
            for key, src in (("spark.tasks", "tasks"), ("spark.executor_run_s", "run"),
                             ("spark.executor_cpu_s", "cpu"), ("spark.gc_s", "gc"),
                             ("spark.shuffle_read_bytes", "sread"),
                             ("spark.shuffle_write_bytes", "swrite"),
                             ("spark.spill_bytes", "spill")):
                o[key] += t[src]
        for group, execs in group_execs.items():
            o = out[group]
            for ex, first_job in execs.items():
                if ex in exec_start:
                    o["catalyst.plan_s"] += max(0, first_job - exec_start[ex]) / 1e3
                o["spark.aqe_replans"] += replans[ex]
                if plans[ex]:
                    census = _census(plans[ex][-1])
                    o["plan.bhj"] += census["BroadcastHashJoin"]
                    o["plan.smj"] += census["SortMergeJoin"]
                    o["plan.exchanges"] += census["Exchange"]
                for key, value in _python_metrics(plans[ex], acc).items():
                    o[key] += value
        return {g: dict(v) for g, v in out.items()}


def _nodes(info):
    yield info
    for child in info.get("children", []):
        yield from _nodes(child)


def _census(info) -> dict[str, int]:
    counts = defaultdict(int)
    for n in _nodes(info):
        counts[n["nodeName"]] += 1
    return counts


def _python_metrics(infos, acc) -> dict[str, float]:
    """Sum the Python UDF node's SQL metrics over every plan version."""
    ids = {}
    for info in infos:
        for n in _nodes(info):
            if n["nodeName"] == PY_NODE:
                for m in n.get("metrics", []):
                    if m["name"] in PY_METRICS:
                        ids[m["accumulatorId"]] = (PY_METRICS[m["name"]], m["metricType"])
    out = defaultdict(float)
    for aid, (key, kind) in ids.items():
        scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(kind, 1.0)
        out[key] += acc.get(aid, 0.0) * scale
    return out


def eval_counts(log_dir: str) -> dict[str, dict]:
    """The matcher calls ``evaldaemon`` logged -> {job group:
    ``standardize.kernel_evals`` (titles the kernel evaluated),
    ``standardize.distinct_titles`` (distinct among them),
    ``standardize.evals_v1``/``evals_v2`` (by form)}."""
    evals = defaultdict(lambda: defaultdict(int))
    titles = defaultdict(set)
    for path in glob.glob(os.path.join(log_dir, "*.jsonl")):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                evals[r["g"]][r["form"]] += len(r["titles"])
                titles[r["g"]].update(r["titles"])
    return {g: {"standardize.kernel_evals": sum(by.values()),
                "standardize.distinct_titles": len(titles[g]),
                "standardize.evals_v1": by["v1"], "standardize.evals_v2": by["v2"]}
            for g, by in evals.items() if g is not None}


def per_pass(groups: dict[str, dict], passes: int) -> dict[str, float]:
    """Median over timed passes of each metric summed over the pass's
    operations (groups ``p{k}:{op}``).  ``standardize.eval_useful_frac``
    is the pass's distinct titles (per operation) over its kernel
    evaluations."""
    keys = set(SPARK_KEYS) | {k for g in groups.values() for k in g}
    sums = [defaultdict(float) for _ in range(passes)]
    for group, metrics in groups.items():
        head = group.split(":", 1)[0]
        if head.startswith("p") and head[1:].isdigit() and int(head[1:]) < passes:
            for k, v in metrics.items():
                sums[int(head[1:])][k] += v
    for s in sums:
        if s["standardize.kernel_evals"]:
            s["standardize.eval_useful_frac"] = (
                s["standardize.distinct_titles"] / s["standardize.kernel_evals"])
    keys |= {"standardize.eval_useful_frac"}
    return {k: statistics.median(s[k] for s in sums) for k in keys}


# ---------------------------------------------------------------------------
# live SQL status store (no event log needed)
# ---------------------------------------------------------------------------

def udf_node(spark, timeout: float = 30.0) -> dict:
    """The latest SQL execution's Python UDF node: whether the executed
    plan has one, and its output row count once the execution ended."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    ex_id = execs.apply(execs.size() - 1).executionId()
    deadline = time.time() + timeout
    while True:
        ui = store.execution(ex_id).get()
        if ui.completionTime().isDefined() or time.time() > deadline:
            break
        time.sleep(0.05)
    values = {}
    it = store.executionMetrics(ex_id).iterator()
    while it.hasNext():
        kv = it.next()
        values[int(kv._1())] = kv._2()
    nodes = store.planGraph(ex_id).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if node.name() == PY_NODE:
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "number of output rows":
                    raw = values.get(int(m.accumulatorId()), "0")
                    return {"present": True, "rows": int(raw.replace(",", "") or 0)}
            return {"present": True, "rows": 0}
    return {"present": False, "rows": 0}


# ---------------------------------------------------------------------------
# in-process kernel timings
# ---------------------------------------------------------------------------

def _per(fn, n) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) / max(1, n) * 1e6


def kernel_metrics(titles: list[str], batch: list[str], distinct_total: int) -> dict:
    """Time the matcher's layers on ``titles`` (distinct, in-process) and
    ``match_titles`` on one Arrow batch worth of rows ``batch``."""
    import numpy as np

    from duckdb_title_mapper_spark.functions.stemmer import stem
    from duckdb_title_mapper_spark.functions.text import tokenize, tokenize_and_stem
    from duckdb_title_mapper_spark.functions.tfidf import (
        best_match_indices, build_index, vectorize_query,
    )
    from duckdb_title_mapper_spark.kb import load_kb
    from duckdb_title_mapper_spark.operators.standardize import get_index, match_titles

    kb, index = load_kb(), get_index()
    out = {}
    load = getattr(load_kb, "__wrapped__", load_kb)
    out["kb.load_s"] = statistics.median(_per(load, 1) / 1e6 for _ in range(3))
    out["tfidf.build_index_s"] = _per(lambda: build_index(list(kb.corpus)), 1) / 1e6
    out["standardize.broadcast_bytes"] = len(
        pickle.dumps((index, kb), protocol=pickle.HIGHEST_PROTOCOL))

    n = len(titles)
    out["text.tokenize_stem_us"] = _per(
        lambda: [[stem(w) for w in tokenize(t)] for t in titles], n)
    for t in titles:  # warm the stem cache the workers keep between batches
        vectorize_query(index, t)
    out["tfidf.vectorize_us"] = _per(lambda: [vectorize_query(index, t) for t in titles], n)
    match_us = _per(lambda: best_match_indices(index, titles), n)
    out["tfidf.score_us"] = max(0.0, match_us - out["tfidf.vectorize_us"])
    postings, pairs, tokens, oov = [], [], 0, 0
    t2i, ptr = index.term_to_idx, index.term_ptr
    for t in titles:
        stems = tokenize_and_stem(t)
        tokens += len(stems)
        oov += sum(s not in t2i for s in stems)
        tidxs = vectorize_query(index, t)[0]
        postings.append(int(sum(ptr[i + 1] - ptr[i] for i in tidxs)))
        docs = [index.post_doc[ptr[i]:ptr[i + 1]] for i in tidxs]
        pairs.append(len(np.unique(np.concatenate(docs))) if docs else 0)
    out["tfidf.postings_per_title"] = statistics.fmean(postings) if postings else 0.0
    out["tfidf.oov_frac"] = oov / max(1, tokens)
    out["standardize.v2_candidate_pairs"] = (
        statistics.fmean(pairs) * distinct_total if pairs else 0.0)
    out["standardize.match_us"] = _per(lambda: match_titles(batch, index, kb), len(batch))
    return out
