"""SparkSession, program set-up, host-noise probes and process clean-up.

One session configuration serves every run: ``local[cpus]`` with one shuffle partition
per core, every scratch path (Spark local dirs, JVM tmpdir, warehouse,
the program's parquet stores, its stream staging directory, Python
``tempfile``) inside the run's work directory, and Arrow batches of
``ARROW_BATCH_ROWS`` rows.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

PKG = "duckdb_title_mapper_spark"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str, cpus: int, eval_log: str | None = None) -> None:
    """Process environment every Spark JVM and Python worker inherits.
    ``eval_log``: where the traced session's worker daemon
    (``evaldaemon``) logs the matcher's kernel calls."""
    for d in ("tmp", "store", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_STORE_ROOT"] = os.path.join(work, "store")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_MATERIALIZE", None)  # the local[N] default
    if eval_log:
        os.makedirs(eval_log, exist_ok=True)
        os.environ["PERFBENCH_EVAL_LOG"] = eval_log


def new_session(work: str, cpus: int, eventlog_dir: str | None = None):
    """The benchmark's session.  With ``eventlog_dir`` (the traced
    session) it also writes Spark's event log there and starts its Python
    workers from ``evaldaemon``."""
    from pyspark.sql import SparkSession

    from inputs import ARROW_BATCH_ROWS

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={work}/derby")
    )
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.dir", eventlog_dir)
            .config("spark.python.daemon.module", "perfbench.evaldaemon")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def purge_program() -> None:
    """Forget every imported program module, so the next set-up pays the
    imports and rebuilds the program's process-wide caches."""
    for name in list(sys.modules):
        if name == PKG or name.startswith(PKG + "."):
            del sys.modules[name]


def set_up(work: str, cpus: int, imports: tuple[str, ...], eventlog_dir=None,
           before_import=None) -> tuple:
    """One full set-up: session start, program import, ``register`` (KB
    load, index build, broadcast), then the first answer (the
    authoritative goldens through ``standardize_title``).  Returns
    ``(spark, parts)`` with the wall time of each part in seconds and
    ``first_answer_ok``."""
    import importlib

    from inputs import golden_titles

    parts = {}
    t0 = time.perf_counter()
    spark = new_session(work, cpus, eventlog_dir)
    t1 = time.perf_counter()
    if before_import is not None:
        before_import()
    engine = importlib.import_module(PKG)
    for mod in imports:
        importlib.import_module(mod)
    stage_streams_in(work)
    t2 = time.perf_counter()
    engine.register(spark)
    t3 = time.perf_counter()
    from duckdb_title_mapper_spark.reference_goldens import AUTHORITATIVE

    vals = ", ".join("('" + t.replace("'", "''") + "')" for t in AUTHORITATIVE)
    got = dict(
        (r[0], r[1])
        for r in spark.sql(
            f"SELECT title, standardize_title(title) FROM VALUES {vals} AS g(title)"
        ).collect()
    )
    t4 = time.perf_counter()
    parts.update(
        session_s=t1 - t0, import_s=t2 - t1, register_s=t3 - t2,
        first_answer_s=t4 - t3, total_s=t4 - t0,
        first_answer_ok=got == {t: golden_titles()[t] for t in AUTHORITATIVE},
    )
    return spark, parts


def stage_streams_in(work: str) -> None:
    """Make the program stage its file-stream sources under ``work``.

    ``streaming.windows._stage_stream_dir`` gives Spark's file stream
    source a directory holding one symlink to the events parquet, made
    once per source path under a fixed ``/tmp`` location.  A run may write
    only inside its own directory, so this replaces it with the same two
    steps (``makedirs``, ``symlink``) under ``work/stream``."""
    from duckdb_title_mapper_spark.streaming import windows

    def stage(sf_dir: str, table: str = "events") -> str:
        src = os.path.realpath(f"{sf_dir}/{table}.parquet")
        d = os.path.join(work, "stream", hashlib.md5(src.encode()).hexdigest()[:12])
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, f"{table}.parquet")
        if not os.path.lexists(link):
            os.symlink(src, link)
        return d

    windows._stage_stream_dir = stage


# ---------------------------------------------------------------------------
# host noise and memory
# ---------------------------------------------------------------------------

def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _probe_worker(conn) -> None:
    while True:
        n = conn.recv()
        if n is None:
            return
        _burn(n)
        conn.send(0)


class HostProbe:
    """The host's current speed: the wall time of a fixed CPU-bound burn
    run at once on ``cpus`` processes, one each.

    The processes are forked when the probe is made, so make it before the
    JVM and its py4j threads exist.  They sleep between probes.  ``close``
    stops them and waits until they ended."""

    BURN = 1_000_000  # about 0.1 s of one core of a 4-vCPU VM

    def __init__(self, cpus: int):
        import multiprocessing as mp

        ctx = mp.get_context("fork")
        self.conns, self.procs = [], []
        for _ in range(cpus):
            parent, child = ctx.Pipe()
            p = ctx.Process(target=_probe_worker, args=(child,), daemon=True)
            p.start()
            child.close()
            self.conns.append(parent)
            self.procs.append(p)
        self.run(1)  # workers up before timing

    def run(self, n: int = BURN) -> float:
        t0 = time.perf_counter()
        for c in self.conns:
            c.send(n)
        for c in self.conns:
            c.recv()
        return time.perf_counter() - t0

    def eff_cores(self, n: int = BURN) -> tuple[float, float]:
        """Parallel throughput of the host in cores, ``cpus * t(1) /
        t(cpus)`` (below ``cpus`` means other tenants), and ``t(1)`` in
        seconds (single-core speed)."""
        t0 = time.perf_counter()
        _burn(n)
        t1 = time.perf_counter() - t0
        return round(len(self.conns) * t1 / self.run(n), 2), round(t1, 4)

    def close(self) -> None:
        for c in self.conns:
            try:
                c.send(None)
            except OSError:
                pass
        for p in self.procs:
            p.join()
        for c in self.conns:
            c.close()


def loadavg() -> list[float]:
    return list(os.getloadavg())


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _python_pids() -> list:
    """The driver's Python process and every Python process the JVM
    started (the worker daemon and its workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    pids = ["self"]
    for pid in _descendants(proc.pid) if proc is not None else []:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    pids.append(pid)
        except OSError:
            pass
    return pids


def reset_peak_rss() -> None:
    """Reset VmHWM of the driver's Python process and the Python workers
    to their current resident size (``/proc/<pid>/clear_refs``), so a
    later ``python_rss_mb`` reads the peak of what ran in between, not
    that of input generation or output checks."""
    import gc

    gc.collect()
    for pid in _python_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def python_rss_mb() -> float:
    """Peak resident memory since ``reset_peak_rss`` of the Spark driver's
    Python process plus every Python worker (sum of VmHWM).  The JVM is
    left out: its footprint follows the garbage collector's heap sizing,
    not the program."""
    total = 0.0
    for pid in _python_pids():
        try:
            total += vm_hwm_mb(pid)
        except OSError:
            pass
    return total


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the active session, the py4j gateway and the JVM, and wait
    until the JVM and every process it started (Python workers) ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for pid in pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None
