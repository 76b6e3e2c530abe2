#!/usr/bin/env python3
"""Benchmark of the duckdb_title_mapper_spark engine.

    python3 perfbench/run.py --workload titles_repeated --seed 1 --seconds 16 --trace 0

Run from the repository root.  One closed-loop client (the next operation
starts when the previous one completed) drives one SparkSession on
``local[nproc]``.  Each timed DataFrame is delivered in full to Spark's
``noop`` sink.  The run generates its inputs from ``--seed``, sets the
program up once to launch the JVM and then ``SETUP_REPS`` times (median
reported), makes one untimed pass that checks every output and one more
that warms up, then repeats timed passes for ``--seconds``.  A host probe
runs between operations; ``pass_s`` and ``setup_s`` are scaled by it to a
fixed host speed.  The last stdout line is the JSON result: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  A
detail file with per-query times, input sizes and host-noise probes is
written under ``.perfbench_work/results/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

KERNEL_SAMPLE = 2_000
SETUP_REPS = 3  # measured set-ups after the one that launches the JVM
PROBE_REF_S = 0.1  # host-probe time the reported seconds are scaled to


def metric_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and per-layer metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_passes(spark, ops, seconds, tracer=None, udf_rows=None, probe=None):
    """Timed passes over ``ops`` for about ``seconds``: at least one full
    pass, then operation after operation, in pass order, until the time
    is up (so the last pass may be partial).  Returns the per-pass
    {op: timings} records, the failures seen and the operations run."""
    from layers import udf_node

    passes, fails, attempts = [], [], 0
    start = time.perf_counter()
    last = probe.run() if probe else None
    while not passes or time.perf_counter() - start < seconds:
        k, record = len(passes), {}
        passes.append(record)
        for name, _, build in ops:
            if k and time.perf_counter() - start >= seconds:
                break
            attempts += 1
            if tracer:
                tracer.begin(spark, f"p{k}:{name}")
            try:
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                record[name] = {"build_s": t1 - t0, "s": time.perf_counter() - t0}
            except Exception as e:
                fails.append(f"{name} pass {k}: {type(e).__name__}: {str(e)[:200]}")
            if probe:
                after = probe.run()
                if name in record:
                    record[name]["probe_s"] = (last + after) / 2
                last = after
            if tracer:
                tracer.end(spark)
            if udf_rows is not None and name in record:
                node = udf_node(spark)
                if not node["present"] or node["rows"] != udf_rows:
                    fails.append(f"{name} pass {k}: UDF node {node}, expected {udf_rows} rows")
                    del record[name]
    return passes, fails, attempts


def full_passes(passes, ops) -> int:
    """Number of leading passes that ran every operation."""
    n = 0
    while n < len(passes) and len(passes[n]) == len(ops):
        n += 1
    return n


def summarize(passes, ops):
    """Per-operation medians over the passes.  ``pass_s`` sums them, so a
    burst of host noise in one pass moves one sample of one operation,
    not the whole pass.  With host probes, ``pass_scaled_s`` does the same
    with each latency scaled to a host on which a probe takes
    ``PROBE_REF_S``."""
    ran = [(n, fam) for n, fam, _ in ops if any(n in p for p in passes)]
    probes = [r["probe_s"] for p in passes for r in p.values() if "probe_s" in r]

    def med(name, key):
        return statistics.median(p[name][key] for p in passes if name in p)

    def scaled(name):
        return statistics.median(p[name]["s"] * PROBE_REF_S / p[name]["probe_s"]
                                 for p in passes if name in p)

    per_op = {n: med(n, "s") for n, _ in ran}
    family = {}
    for n, fam in ran:
        family[fam] = family.get(fam, 0.0) + per_op[n]
    queries = sorted(r["s"] for p in passes for r in p.values())
    out = {
        "pass_s": sum(per_op.values()),
        "pass_scaled_s": sum(scaled(n) for n, _ in ran) if probes else None,
        "probe_median_s": statistics.median(probes) if probes else None,
        "passes": len(passes),
        "pass_times_s": [sum(r["s"] for r in p.values()) for p in passes if len(p) == len(ops)],
        "build_s": sum(med(n, "build_s") for n, _ in ran),
        "family_s": family,
        "per_query_median_s": per_op,
        "query_p50_s": statistics.median(queries) if queries else 0.0,
    }
    n = len(queries)
    if n > 10:  # highest percentile with at least ten samples beyond it
        out["query_tail"] = {"percentile": round(100.0 * (n - 10) / n, 1),
                             "value_s": queries[n - 11], "samples": n}
    return out


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "duckdb_title_mapper_spark")):
        print("perfbench: the duckdb_title_mapper_spark package is not next to "
              "perfbench/; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    import spark_env as env
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    cpus = env.cpu_count()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    probe = env.HostProbe(cpus)  # forks: before the JVM exists
    try:
        eff, burn_s = probe.eff_cores()
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "client": f"1 closed-loop client, local[{cpus}]",
                  "host": {"cpus": cpus, "loadavg_before": env.loadavg(),
                           "eff_cores": eff, "burn_1core_s": burn_s}}
        env.prepare_env(ROOT, work, cpus,
                        eval_log=os.path.join(work, "evallog") if args.trace else None)
        t0 = time.perf_counter()
        detail["inputs"] = wl.make_inputs(ROOT, work, args.seed, cpus)
        detail["inputs"]["gen_s"] = time.perf_counter() - t0
        result = measure(args, wl, work, cpus, detail, probe)
    except Exception:
        traceback.print_exc()
        env.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    finally:
        probe.close()
    shutil.rmtree(work, ignore_errors=True)
    detail["host"]["loadavg_after"] = env.loadavg()
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    path = os.path.join(WORK_ROOT, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    for name, m in result["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(f"# wall, not scaled: setup {detail['setup_wall_s']:.4g} s, "
          f"pass {detail['summary']['pass_s']:.4g} s; host probe median "
          f"{detail['summary']['probe_median_s'] or 0:.4g} s")
    for key in ("titles_per_s", "query_tail", "failed_frac", "failures"):
        if key in detail:
            print(f"# {key}: {detail[key]}")
    print(f"# host: {detail['host']}  detail: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


def measure(args, wl, work, cpus, detail, probe):
    """Set the program up once per session role, then check and time it.

    Every run starts with a set-up that pays the JVM launch and is left
    out of the set-up figures.  Untraced: ``SETUP_REPS`` more set-ups; the
    last session is checked and timed.  Traced: an untraced reference
    measurement runs in a session before and one after the traced
    session, so the tracing overhead is read against both warm-up
    orders."""
    import spark_env as env
    from layers import Tracer, kernel_metrics, per_pass

    tracer = Tracer(work) if args.trace else None
    roles = (("cold", "ref", "main", "ref") if tracer
             else ("cold",) + ("setup",) * (SETUP_REPS - 1) + ("main",))
    reps, fails, attempted, refs = [], [], 0, []
    for i, role in enumerate(roles):
        traced = tracer is not None and role == "main"
        if i:
            env.purge_program()
        before = probe.run()
        spark, parts = env.set_up(
            work, cpus, wl.imports,
            eventlog_dir=tracer.eventlog_dir if traced else None,
            before_import=tracer.install if traced else None)
        parts["probe_s"] = (before + probe.run()) / 2
        reps.append(parts)
        attempted += 1
        if not parts["first_answer_ok"]:
            fails.append(f"set-up {i}: wrong first answer")
        if role == "ref":
            ops = wl.ops(spark)
            run_passes(spark, ops, 0)  # warm-up
            ref, ref_fails, n = run_passes(spark, ops, args.seconds / 4, None,
                                           wl.expected_udf_rows())
            refs.append(ref)
            attempted += n
            fails += ref_fails
        elif role == "main":
            ops = wl.ops(spark)
            if traced:
                tracer.listen(spark)
                tracer.begin(spark, "warm")
            t0 = time.perf_counter()
            checked = wl.check(spark)
            warm_s = time.perf_counter() - t0
            if traced:
                tracer.end(spark)
            attempted += len(checked)
            fails += [f"check {name}: {f}" for name, fs in checked.items() for f in fs]
            if not traced:
                run_passes(spark, ops, 0)  # warm-up after the cold check pass
            env.reset_peak_rss()
            passes, pass_fails, n = run_passes(spark, ops, args.seconds, tracer,
                                               wl.expected_udf_rows(),
                                               None if traced else probe)
            attempted += n
            fails += pass_fails
            s = summarize(passes, ops)
            rss = env.python_rss_mb()
        spark.stop()

    layer = {}
    if tracer:
        titles = wl.distinct_titles()
        batch = [t for t in wl.first_batch() if t is not None]
        step = max(1, len(titles) // KERNEL_SAMPLE)
        layer.update(kernel_metrics(titles[::step][:KERNEL_SAMPLE], batch, len(titles)))
    env.shutdown_jvm()

    failed = len(fails)
    detail.update(
        setup_reps=reps, warm_s=warm_s, summary=s, failures=fails,
        failed_frac=failed / max(1, attempted),
        check_failures={k: v for k, v in checked.items() if v})
    if "rows" in detail["inputs"] and s["pass_s"] > 0:
        detail["titles_per_s"] = detail["inputs"]["rows"] / s["pass_s"]
    detail["passes"] = passes
    if "query_tail" in s:
        detail["query_tail"] = s["query_tail"]

    end_to_end, per_layer = metric_units()
    warm_reps = reps[1:]  # without the JVM launch
    for r in reps:  # scaled as the timed passes are
        r["scaled_s"] = r["total_s"] * PROBE_REF_S / r["probe_s"]
    detail["setup_wall_s"] = statistics.median(r["total_s"] for r in warm_reps)
    if not tracer:
        values = {"setup_s": statistics.median(r["scaled_s"] for r in warm_reps),
                  "pass_s": s["pass_scaled_s"], "python_rss_mb": rss}
        metrics = {k: values[k] for k in end_to_end}
        units = end_to_end
    else:
        groups = tracer.parse()
        layer.update(per_pass(groups, full_passes(passes, ops)))
        for part in ("session", "import", "first_answer"):
            layer[f"setup.{part}_s"] = statistics.median(r[f"{part}_s"] for r in warm_reps)
        layer["standardize.register_s"] = statistics.median(r["register_s"] for r in warm_reps)
        layer["setup.warm_s"] = warm_s
        layer["workload.build_s"] = s["build_s"]
        for fam in ("std", "rel", "stream", "x"):
            layer[f"workload.family_s.{fam}"] = s["family_s"].get(fam, 0.0)
        layer["trace.pass_s"] = s["pass_s"]
        # as many traced passes as each reference made, from the same
        # point after warm-up, so the comparison is not one of warmth
        m = min(full_passes(r, ops) for r in refs)
        traced_s = summarize(passes[:m], ops)["pass_s"]
        ref_s = statistics.fmean(summarize(r[:m], ops)["pass_s"] for r in refs)
        layer["trace.overhead_frac"] = traced_s / ref_s - 1.0
        detail["trace_groups"] = groups
        detail["per_layer_all"] = layer
        metrics = {k: layer.get(k, 0.0) for k in per_layer}  # 0: layer not used
        units = per_layer
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
