"""Traced-run mode: spans around the engine's public functions, read
together with Spark's monitoring REST API into per-layer metrics.

The wrappers are installed from here, around calls into each layer;
the program itself is not changed.  Spans are kept in memory and
handed out at the end of the run.  A layer's self time is its span
time minus the time of its child spans.  Each Spark job is attributed
to the innermost span whose interval contains the job's submission
(REST requests are told apart by the job group the server sets).
"""

from __future__ import annotations

import bisect
import calendar
import functools
import json
import re
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

#: the ETs of the lake day, each reported on its own
LAKE_ETS = ["TextNormalize", "GopherQualityFilter", "BloomFilterDedup",
            "NearDedup", "MinHashSignatures", "DeterministicShard"]

#: span names that can launch Spark jobs (parser and macro spans cannot)
_JOB_LAYERS = ("engine.", "sources.", "operators.", "spark_sql", "server.",
               "analyzer.")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    tid: int = 0
    group: str = ""
    count: int = 0
    children_s: float = 0.0
    depth: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def within(self, prefix: str) -> bool:
        s = self
        while s is not None:
            if s.name.startswith(prefix):
                return True
            s = s.parent
        return False

    def op(self) -> "Span":
        """The outermost span: the script run or request it belongs to."""
        s = self
        while s.parent is not None:
            s = s.parent
        return s


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _tls: threading.local = field(default_factory=threading.local)

    def wrap(self, name: str, fn, group=None, count=None):
        """Return `fn` recording one span per call.  `group(args)` names
        the request's Spark job group; `count(result)` sets span.count."""
        tls, spans = self._tls, self.spans

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(tls, "stack", None)
            if stack is None:
                stack = tls.stack = []
            parent = stack[-1] if stack else None
            span = Span(name, time.time(), parent=parent,
                        tid=threading.get_ident(),
                        group=(group(args) if group else
                               parent.group if parent else ""),
                        depth=len(stack))
            stack.append(span)
            try:
                result = fn(*args, **kwargs)
                if count is not None:
                    span.count = count(result)
                return result
            finally:
                span.end = time.time()
                stack.pop()
                if parent is not None:
                    parent.children_s += span.seconds
                spans.append(span)

        return traced


def _patch_function(module, attr: str, wrapped) -> None:
    """Replace `module.attr` and every `from module import attr` copy
    already bound in the package's other modules."""
    orig = getattr(module, attr)
    for m in list(sys.modules.values()):
        if (m is not None and getattr(m, "__name__", "").startswith(
                "streamingpro_spark") and getattr(m, attr, None) is orig):
            setattr(m, attr, wrapped)


def start_tracer() -> Tracer:
    tracer = Tracer()
    install(tracer)
    return tracer


def install(tracer: Tracer) -> None:
    """Wrap the public functions of parser, macros, analyzer, engine,
    sources, operators and server, plus SparkSession.sql."""
    from pyspark.sql import SparkSession

    import streamingpro_spark.analyzer as analyzer
    import streamingpro_spark.engine as engine
    import streamingpro_spark.macros as macros
    import streamingpro_spark.parser as parser
    import streamingpro_spark.server as server
    import streamingpro_spark.sources.registry as sources
    from streamingpro_spark.operators.registry import all_algorithms

    w = tracer.wrap
    for mod, attr, name, kw in [
            (parser, "split_statements", "parser.split", {"count": len}),
            (parser, "parse_statement", "parser.parse", {}),
            (parser, "template_merge", "parser.template", {}),
            (macros, "expand_macro", "macros.expand", {}),
            (analyzer, "analyze", "analyzer.analyze", {}),
            (sources, "load_source", "sources.load", {}),
            (sources, "save_sink", "sources.save", {})]:
        _patch_function(mod, attr, w(name, getattr(mod, attr), **kw))
    E = engine.Engine
    E.execute = w("engine.execute", E.execute)
    E.__init__ = w("engine.init", E.__init__)
    E.validate = w("engine.validate", E.validate)
    S = server.MLSQLServer
    S.run_script = w("server.run_script", S.run_script)
    J = server.JobManager
    J.run = w("server.job", J.run, group=lambda a: a[1].group_id)
    SparkSession.sql = w("spark_sql", SparkSession.sql)
    # one wrapper per ET class, each around that class's own original
    # `train` (recorded before any class is patched, so an inherited
    # train is not wrapped twice)
    names: dict[type, str] = {}
    for name, cls in sorted(all_algorithms().items()):
        names.setdefault(cls, name)
    originals = {cls: cls.train for cls in names}
    for cls, name in names.items():
        cls.train = w(f"operators.{name}", originals[cls])


# ---------------------------------------------------------------------------
# Spark monitoring REST API
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _epoch(ts: str | None) -> float | None:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    if not ts:
        return None
    t = time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S")
    return calendar.timegm(t) + int(ts[20:23]) / 1000.0


@dataclass
class SparkRecord:
    jobs: list[dict]
    stages: dict[int, dict]
    sql: list[dict]


def read_monitoring(ui_url: str) -> SparkRecord:
    """Jobs, stages and SQL executions of the session's application,
    read once the listener bus has caught up (no job running and the
    job count unchanged over half a second)."""
    base = f"{ui_url.rstrip('/')}/api/v1/applications"
    app = _get(base)[0]["id"]
    last = -1
    for _ in range(60):
        jobs = _get(f"{base}/{app}/jobs")
        if len(jobs) == last and all(j["status"] != "RUNNING" for j in jobs):
            break
        last = len(jobs)
        time.sleep(0.5)
    stages = {s["stageId"]: s for s in _get(f"{base}/{app}/stages")}
    sql = _get(f"{base}/{app}/sql?details=true&planDescription=false"
               f"&offset=0&length=1000000")
    return SparkRecord(jobs, stages, sql)


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_bytes(value: str) -> float:
    """A SQL size metric's total ('1.5 KiB', or 'total (min, med,
    max ...)\\n1.5 KiB (...)')."""
    body = value.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

#: every per-layer metric and its unit, in BENCHMARK.json order
PER_LAYER_UNITS: dict[str, str] = {
    "parser.split_s": "s", "parser.parse_s": "s", "parser.template_s": "s",
    "parser.statements": "count",
    "macros.expand_s": "s", "macros.expansions": "count",
    "analyzer.analyze_s": "s", "analyzer.calls": "count",
    "engine.execute_self_s": "s", "engine.init_s": "s",
    "engine.validate_s": "s",
    "sources.load_s": "s", "sources.loads": "count",
    "sources.load_jobs": "count", "sources.save_s": "s",
    "sources.saves": "count", "sources.save_jobs": "count",
    "sources.bytes_written": "bytes",
    "operators.train_s": "s", "operators.calls": "count",
    "operators.jobs": "count",
    **{f"operators.{et}.train_s": "s" for et in LAKE_ETS},
    "spark_sql.s": "s", "spark_sql.calls": "count",
    "server.run_script_s": "s", "server.result_fetch_s": "s",
    "server.result_jobs": "count", "server.http_overhead_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.stages_skipped": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "trace.script_s": "s", "trace.op_cpu_s": "s", "trace.peak_rss_mb": "MB",
}


def _outermost(spans: list[Span], prefix: str) -> list[Span]:
    """Spans of a layer that are not nested in a span of the same layer."""
    return [s for s in spans if s.name.startswith(prefix)
            and (s.parent is None or not s.parent.within(prefix))]


def _attribute(jobs: list[dict], spans: list[Span]) -> dict[int, Span]:
    """job id -> innermost span whose interval holds its submission."""
    by_tid: dict[int, list[Span]] = {}
    for s in sorted((s for s in spans if s.name.startswith(_JOB_LAYERS)),
                    key=lambda s: s.start):
        by_tid.setdefault(s.tid, []).append(s)
    starts = {t: [s.start for s in v] for t, v in by_tid.items()}
    group_tid = {s.group: s.tid for s in spans if s.name == "server.job"}
    out: dict[int, Span] = {}
    for j in jobs:
        sub = _epoch(j.get("submissionTime"))
        if sub is None:
            continue
        sub += 0.0005                    # centre of the millisecond
        tids = ([group_tid[j["jobGroup"]]] if j.get("jobGroup") in group_tid
                else list(by_tid))
        best = None
        for t in tids:
            i = bisect.bisect_right(starts[t], sub + 0.001)
            for s in reversed(by_tid[t][:i]):
                if s.end + 0.001 >= sub:
                    if best is None or s.depth > best.depth:
                        best = s
                    break
        if best is not None:
            out[j["jobId"]] = best
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(spans: list[Span], rec: SparkRecord | None, op_name: str,
              window_start: float, traced_script_s: float,
              client_latency_s: float | None = None) -> dict[str, float]:
    """Per-layer metrics, each a mean per operation of the timed window.

    `op_name` names the span that is one operation: `engine.execute`
    for a batch repetition, `server.run_script` for a REST request.
    Only spans inside those operations count."""
    ops = [s for s in spans if s.name == op_name and s.parent is None
           and s.start >= window_start]
    n = max(len(ops), 1)
    op_ids = {id(s) for s in ops}
    mine = [s for s in spans if id(s.op()) in op_ids]
    # engine time per REST request; analyze requests run no script
    executed: dict[int, float] = {}
    for s in _outermost(mine, "engine.execute"):
        executed[id(s.op())] = executed.get(id(s.op()), 0.0) + s.seconds

    def total(prefix: str) -> float:
        return sum(s.seconds for s in _outermost(mine, prefix)) / n

    def calls(prefix: str) -> float:
        return sum(1 for s in mine if s.name.startswith(prefix)) / n

    m: dict[str, float] = {
        "parser.split_s": total("parser.split"),
        "parser.parse_s": total("parser.parse"),
        "parser.template_s": total("parser.template"),
        "parser.statements": sum(
            s.count for s in mine if s.name == "parser.split"
            and s.parent is not None and s.parent.name == "engine.execute") / n,
        "macros.expand_s": total("macros.expand"),
        "macros.expansions": calls("macros.expand"),
        "analyzer.analyze_s": total("analyzer.analyze"),
        "analyzer.calls": calls("analyzer.analyze"),
        "engine.execute_self_s": sum(
            s.seconds - s.children_s for s in mine
            if s.name == "engine.execute") / n,
        "engine.init_s": total("engine.init"),
        "engine.validate_s": total("engine.validate"),
        "sources.load_s": total("sources.load"),
        "sources.loads": calls("sources.load"),
        "sources.save_s": total("sources.save"),
        "sources.saves": calls("sources.save"),
        "operators.train_s": total("operators."),
        "operators.calls": calls("operators."),
        **{f"operators.{et}.train_s": total(f"operators.{et}")
           for et in LAKE_ETS},
        "spark_sql.s": total("spark_sql"),
        "spark_sql.calls": calls("spark_sql"),
        "server.run_script_s": total("server.run_script"),
        "server.result_fetch_s": sum(
            s.seconds - executed[id(s)] for s in ops
            if s.name == "server.run_script" and id(s) in executed) / n,
        "trace.script_s": traced_script_s,
    }
    m["server.http_overhead_ms"] = (
        (client_latency_s - m["server.run_script_s"]) * 1000.0
        if client_latency_s is not None else 0.0)
    m.update(_spark_metrics(mine, ops, rec, n))
    return m


def _spark_metrics(mine: list[Span], ops: list[Span],
                   rec: SparkRecord | None, n: int) -> dict[str, float]:
    keys = [k for k in PER_LAYER_UNITS if k.startswith("spark.")] + [
        "sources.load_jobs", "sources.save_jobs", "sources.bytes_written",
        "operators.jobs", "server.result_jobs"]
    out = dict.fromkeys(keys, 0.0)
    if rec is None:
        return out
    owner = _attribute(rec.jobs, mine)
    op_ids = {id(s) for s in ops}
    jobs = [j for j in rec.jobs if j["jobId"] in owner
            and id(owner[j["jobId"]].op()) in op_ids]
    per_op: dict[int, list[tuple[float, float]]] = {}
    for j in jobs:
        sub = _epoch(j["submissionTime"])
        end = _epoch(j.get("completionTime")) or sub
        per_op.setdefault(id(owner[j["jobId"]].op()), []).append((sub, end))
    busy = sum(_union_s(v) for v in per_op.values())
    out["spark.jobs"] = len(jobs) / n
    out["spark.job_busy_s"] = busy / n
    out["spark.driver_gap_s"] = (sum(s.seconds for s in ops) - busy) / n
    for j in jobs:
        span = owner[j["jobId"]]
        if span.within("sources.load"):
            out["sources.load_jobs"] += 1 / n
        if span.within("sources.save"):
            out["sources.save_jobs"] += 1 / n
            out["sources.bytes_written"] += sum(
                rec.stages.get(sid, {}).get("outputBytes", 0)
                for sid in j["stageIds"]) / n
        if span.within("operators."):
            out["operators.jobs"] += 1 / n
        if span.within("server.run_script") and not span.within(
                "engine.execute"):
            out["server.result_jobs"] += 1 / n
        for sid in j["stageIds"]:
            st = rec.stages.get(sid)
            if st is None:
                continue
            if st["status"] == "SKIPPED":
                out["spark.stages_skipped"] += 1 / n
                continue
            out["spark.stages"] += 1 / n
            out["spark.tasks"] += st.get("numCompleteTasks", 0) / n
            out["spark.failed_tasks"] += st.get("numFailedTasks", 0) / n
            out["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1e3 / n
            out["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9 / n
            out["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3 / n
            out["spark.input_bytes"] += st.get("inputBytes", 0) / n
            out["spark.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0) / n
            out["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0) / n
            out["spark.spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                         + st.get("diskBytesSpilled", 0)) / n
    lo = min((s.start for s in ops), default=0.0)
    hi = max((s.end for s in ops), default=0.0)
    for ex in rec.sql:
        sub = _epoch(ex.get("submissionTime"))
        if sub is None or not lo <= sub <= hi:
            continue
        for node in ex.get("nodes", []):
            for mt in node.get("metrics", []):
                if mt["name"] == "data sent to Python workers":
                    out["spark.python_bytes_sent"] += _size_bytes(mt["value"]) / n
                elif mt["name"] == "data returned from Python workers":
                    out["spark.python_bytes_received"] += _size_bytes(mt["value"]) / n
    return out


def spans_to_json(spans: list[Span]) -> list[dict]:
    """Flatten spans (parents as list indices) for another process."""
    index = {id(s): i for i, s in enumerate(spans)}
    return [{"name": s.name, "start": s.start, "end": s.end,
             "parent": index.get(id(s.parent)), "tid": s.tid,
             "group": s.group, "count": s.count,
             "children_s": s.children_s, "depth": s.depth}
            for s in spans]


def spans_from_json(rows: list[dict]) -> list[Span]:
    spans = [Span(r["name"], r["start"], r["end"], None, r["tid"],
                  r["group"], r["count"], r["children_s"], r["depth"])
             for r in rows]
    for s, r in zip(spans, rows):
        if r["parent"] is not None:
            s.parent = spans[r["parent"]]
    return spans
