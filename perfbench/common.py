"""Shared harness: host-correct Spark session, work directories inside
the checkout, peak-memory sampling, statistics and result comparison.

Nothing here starts a thread, process or session at import time.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------

def nproc() -> int:
    """Cores this process may run on (the `nproc` of the shell, without
    its OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """Half the host's memory, at most 6 GiB: the driver of a local
    session holds the executors too, and the host is shared."""
    return max(1, min(6, host_mem_mb() // 2048))


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """The session every workload runs with: local[nproc], nproc
    shuffle partitions, UTC, every scratch path inside `work`.  The UI
    (and with it the monitoring REST API) is on only in traced runs."""
    n = str(nproc())
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": n,
        "spark.default.parallelism": n,
        "spark.driver.memory": f"{driver_memory_gb()}g",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedDeadExecutors": "10",
        })
    return conf


def prepare_env(work: str) -> None:
    """Point every temp-file user (Python, the JVMs spark-submit
    launches, the Python workers the JVM forks) at the checkout-local
    work dir; JVM perf data would otherwise go to /tmp."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR on next use
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession
    b = SparkSession.builder
    for k, v in spark_conf(work, trace).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextlib.contextmanager
def session(work: "WorkDir", traced: bool):
    """Yield (spark, t0) where t0 is the moment before the JVM starts;
    stop the session and its JVM on exit."""
    t0 = time.time()
    spark = start_session(work.path, traced)
    try:
        yield spark, t0
    finally:
        stop_session(spark)


def jobs_started(spark) -> int:
    """Spark jobs submitted so far in this session: the DAG scheduler's
    job counter, which needs no UI."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def stamp(spark) -> dict:
    from pyspark import __version__ as pyspark_version
    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark_version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "host_mem_mb": host_mem_mb(),
    }


class WorkDir:
    """A per-run directory under perfbench/.work, removed on exit."""

    def __init__(self, name: str) -> None:
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass                     # another run still uses it


def gen_inputs(kind: str, seed: int, out_dir: str, **kw) -> dict:
    """Run the seeded generator in a child process, so its arrays never
    count towards the driver's peak memory.  Returns its properties."""
    import json
    args = [sys.executable, os.path.join(BENCH_DIR, "datagen.py"), kind,
            "--seed", str(seed), "--out", out_dir]
    for k, v in kw.items():
        args += [f"--{k}", str(v)]
    res = subprocess.run(args, capture_output=True, text=True, timeout=170)
    if res.returncode != 0:
        raise RuntimeError(f"input generation failed: {res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# CPU time and peak memory of a process tree
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, the fields of /proc/<pid>/stat after the name)."""
    out: dict[int, tuple[int, list[str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[int(d)] = (int(fields[1]), fields)
    return out


def _tree(root: int, stats: dict) -> list[list[str]]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _f) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid][1])
        todo.extend(kids.get(pid, []))
    return out


class TreeMeter:
    """CPU time and memory of the process tree under `root_pid`: the
    driver's Python, its JVM and the JVM's Python workers.

    `cpu_s()` is the user + system time the tree has used so far,
    including its children that have exited (the kernel adds a reaped
    child's time to its parent).  Differences of it give the CPU time
    of an interval.  A background thread samples the tree's summed
    resident memory; `stop()` returns the largest sum seen, in MB.
    When the tree is this process, the sampling thread's own CPU time
    is left out of `cpu_s()`."""

    #: seconds between memory samples
    INTERVAL = 0.25

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid
        self.peak_kb = 0.0
        #: how the peak was made up: process count, largest process
        self.peak_parts: dict = {}
        self._own_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-meter")

    def cpu_s(self) -> float:
        ticks = sum(int(v) for f in _tree(self.root, _stats())
                    for v in f[11:15])
        own = self._own_s if self.root == os.getpid() else 0.0
        return ticks / _TICK - own

    def sample(self) -> None:
        tree = _tree(self.root, _stats())
        kb = sum(int(f[21]) for f in tree) * _PAGE / 1024.0
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.peak_parts = {"processes": len(tree), "largest_mb": max(
                int(f[21]) for f in tree) * _PAGE / 2**20}

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()
            self._own_s = time.thread_time()

    def start(self) -> "TreeMeter":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# statistics and results
# ---------------------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); one value is its own
    quantile."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


@dataclass
class Op:
    """One timed operation: a script repetition or a REST request."""
    start: float
    end: float
    ok: bool
    kind: str = "script"
    #: CPU seconds the program's process tree used during the operation
    #: and the Spark jobs it submitted (batch workloads only; concurrent
    #: REST requests share one figure of each)
    cpu_s: float = 0.0
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Outcome:
    """What a workload hands back to run.py."""
    setup_s: float
    window_s: float
    ops: list[Op]
    #: Spark jobs and CPU seconds of the program's process tree per
    #: operation
    op_jobs: float
    op_cpu_s: float
    peak_rss_mb: float
    info: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    #: correctness checks of operations outside the timed window
    checks_attempted: int = 0
    checks_failed: int = 0


def end_to_end(o: Outcome) -> dict[str, float]:
    return {"setup_s": o.setup_s, "op_jobs": o.op_jobs}


def op_summary(o: Outcome) -> dict:
    """The window's wall-clock figures, for the description line: the
    operation count, its quartiles, p90 and correct operations per
    second."""
    secs = [op.seconds for op in o.ops]
    return {"n": len(secs), "q1_s": quantile(secs, 0.25),
            "median_s": statistics.median(secs), "q3_s": quantile(secs, 0.75),
            "p90_ms": quantile(secs, 0.9) * 1000.0,
            "ok_per_s": sum(op.ok for op in o.ops) / o.window_s}


def replace_literals(text: str, mapping: dict[str, str]) -> str:
    """Replace each literal of a contract query by its stand-in.  A
    literal missing from the text is an error, not a query that
    silently keeps its old value."""
    for lit, new in mapping.items():
        if lit not in text:
            raise ValueError(f"literal {lit!r} not found in contract query")
        text = text.replace(lit, new)
    return text


def frames_match(got, want) -> bool:
    """Compare two pandas frames as row multisets.  Non-float columns
    must match exactly; float columns within one cent plus 1e-9
    relative, because the two engines add doubles in different orders
    and a sum rounded to cents can land on either side of a half-cent."""
    import numpy as np
    import pandas as pd
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)
    got, want = got[cols].copy(), want[cols].copy()
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])
              or pd.api.types.is_float_dtype(got[c])]
    exact = [c for c in cols if c not in floats]
    for df in (got, want):
        for c in exact:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]").astype(str)
            elif pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype(bool)
            elif pd.api.types.is_numeric_dtype(df[c]):
                df[c] = df[c].astype("int64")
            else:
                df[c] = df[c].astype(str)
        for c in floats:
            df[c] = df[c].astype("float64")
    key = exact + floats
    got = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(key, kind="mergesort").reset_index(drop=True)
    for c in exact:
        if not (got[c].values == want[c].values).all():
            return False
    for c in floats:
        if not np.allclose(got[c].values, want[c].values, rtol=1e-9,
                           atol=0.0101, equal_nan=True):
            return False
    return True


class Window:
    """Closed-loop timing window of `seconds`.  An operation starts only
    if one as long as the caller's previous operation would still end
    inside the window, so the number of operations a run makes does
    not flip with small changes in their duration."""

    def __init__(self, seconds: float) -> None:
        self.seconds = seconds
        self.start = time.time()

    def admits(self, previous_s: float) -> bool:
        return time.time() - self.start + previous_s <= self.seconds

    def close(self) -> float:
        """The window's length: until the last operation ended."""
        return time.time() - self.start


def timed(fn, meter: TreeMeter, spark) -> Op:
    """Run one operation and record its wall interval, the CPU time
    `meter`'s process tree used meanwhile and the jobs it submitted."""
    j0, c0, t0 = jobs_started(spark), meter.cpu_s(), time.time()
    fn()
    t1 = time.time()
    return Op(t0, t1, True, cpu_s=meter.cpu_s() - c0,
              jobs=jobs_started(spark) - j0)


def traced_layers(tracer, spark, win: Window, ops: list[Op]) -> dict:
    """Per-layer metrics of a batch workload's traced run (empty when
    untraced); reads the monitoring API before the session stops."""
    if tracer is None:
        return {}
    from tracing import per_layer, read_monitoring
    rec = read_monitoring(spark.sparkContext.uiWebUrl)
    return per_layer(tracer.spans, rec, "engine.execute", win.start,
                     statistics.median(op.seconds for op in ops))
