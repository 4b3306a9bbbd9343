"""rest_interactive: two closed-loop clients against MLSQLServer.

The server runs in its own process (rest_server.py).  This process is
the load generator: two client threads, one owner each (so two
per-owner sessions), each sending its next `/run/script` request as
soon as the previous one answered.  The seeded mix has five kinds:

    json_agg      inline jsonStr rows, a filter and an aggregate
    orders_range  a parquet load and a date-range aggregate over orders
    branch        set + !if/!else + a ! macro over inline VALUES rows
    token_count   the TokenCount ET over inline documents
    analyze       an executeMode=analyze request

Every expected answer is computed before the window: in Python from
the generated inline data, or by DuckDB from the orders parquet.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import numpy as np

from common import (BENCH_DIR, Op, Outcome, TreeMeter, Window, frames_match,
                    gen_inputs)

KINDS = ["json_agg", "orders_range", "branch", "token_count", "analyze"]
CLIENTS = 2
VARIANTS = 8
#: untimed rounds per client before the window: the first round pays
#: the cold JVM, the second the steepest part of its JIT warm-up
WARM_ROUNDS = 2


def _jsonl(rows: list[dict]) -> str:
    return "\n".join(json.dumps(r) for r in rows)


def _token_counts(text: str) -> tuple[int, int]:
    """TokenCount's contract (the token_count oracle in __spark_entry__)."""
    ws = len(re.split(r"\s+", text.lower()))
    bpe = (len(re.findall(r"[^\s]{1,6}", text))
           + len(re.sub(r"[A-Za-z0-9\s]", "", text)))
    return ws, bpe


def request_pool(seed: int, orders: str, out_dir: str) -> dict[str, list[dict]]:
    """VARIANTS requests per kind: {params, expected} each, where
    expected is a row list (compared as a multiset) or, for analyze,
    the exact response."""
    import duckdb
    from datagen import CONTENT_WORDS
    rng = np.random.default_rng([seed, 4])
    con = duckdb.connect()
    pool: dict[str, list[dict]] = {k: [] for k in KINDS}
    for i in range(VARIANTS):
        rows = [{"k": "abcde"[int(rng.integers(0, 5))],
                 "v": int(rng.integers(0, 100))}
                for _ in range(int(rng.integers(20, 41)))]
        thr = int(rng.integers(10, 60))
        agg: dict[str, list[int]] = {}
        for r in rows:
            if r["v"] > thr:
                a = agg.setdefault(r["k"], [0, 0])
                a[0] += 1
                a[1] += r["v"]
        pool["json_agg"].append({
            "params": {"sql": f"set rows = '''{_jsonl(rows)}''';\n"
                              "load jsonStr.`rows` as j_t;\n"
                              "select k, count(*) as n, sum(v) as s from j_t "
                              f"where v > {thr} group by k as j_out;"},
            "expected": [{"k": k, "n": n, "s": s}
                         for k, (n, s) in agg.items()]})

        d1 = np.datetime64("1995-01-01") + int(rng.integers(0, 2200))
        d2 = d1 + int(rng.integers(30, 181))
        sql = ("select o_orderpriority, count(*) as n, "
               "round(sum(o_totalprice), 2) as total from {src} "
               f"where o_orderdate >= timestamp '{d1} 00:00:00' "
               f"and o_orderdate < timestamp '{d2} 00:00:00' "
               "group by o_orderpriority")
        want = con.execute(sql.format(src=f"read_parquet('{orders}')")).fetchdf()
        pool["orders_range"].append({
            "params": {"sql": f"load parquet.`{orders}` as o_t;\n"
                              f"{sql.format(src='o_t')} as o_out;"},
            "expected": want.to_dict("records")})

        x = int(rng.integers(0, 101))
        vals = [("abcde"[int(rng.integers(0, 5))], int(rng.integers(0, 1000)))
                for _ in range(int(rng.integers(10, 31)))]
        pick = max if x > 50 else min
        best: dict[str, int] = {}
        for k, v in vals:
            best[k] = pick(best.get(k, v), v)
        values = ", ".join(f"('{k}', {v})" for k, v in vals)
        pool["branch"].append({
            "params": {"sql": f'set x = "{x}";\n'
                              f"select * from values {values} as v(k, v) "
                              "as b_src;\n"
                              "!tableRepartition b_src 2 b_rep;\n"
                              "!if ''':x > 50''';\n"
                              "select k, max(v) as m from b_rep group by k "
                              "as b_out;\n"
                              "!else;\n"
                              "select k, min(v) as m from b_rep group by k "
                              "as b_out;\n"
                              "!fi;"},
            "expected": [{"k": k, "m": m} for k, m in best.items()]})

        docs = []
        for j in range(int(rng.integers(5, 16))):
            words = [str(w) for w in rng.choice(CONTENT_WORDS,
                                                int(rng.integers(3, 30)))]
            if rng.random() < 0.5:
                words[-1] += "."
            docs.append({"doc_id": i * 100 + j, "text": " ".join(words)})
        pool["token_count"].append({
            "params": {"sql": f"set docs = '''{_jsonl(docs)}''';\n"
                              "load jsonStr.`docs` as t_in;\n"
                              "run t_in as TokenCount.`` as t_tc;\n"
                              "select doc_id, ws_tokens, est_bpe_tokens "
                              "from t_tc as t_out;"},
            "expected": [{"doc_id": d["doc_id"],
                          **dict(zip(("ws_tokens", "est_bpe_tokens"),
                                     _token_counts(d["text"])))}
                         for d in docs]})

        price = int(rng.integers(1000, 400_000))
        target = f"{out_dir}/analyze_{i}"

        def ref(table: str, op: str, src: str) -> dict:
            return {"table": table, "operateType": op, "sourceType": src,
                    "db": None}
        pool["analyze"].append({
            "params": {"executeMode": "analyze",
                       "sql": f"load parquet.`{orders}` as a_o;\n"
                              "select o_orderpriority, count(*) as n from a_o "
                              f"where o_totalprice > {price} "
                              "group by o_orderpriority as a_agg;\n"
                              f"save overwrite a_agg as parquet.`{target}`;"},
            "expected": {"inputs": [ref(orders, "load", "file"),
                                    ref("a_o", "select", "temp"),
                                    ref("a_agg", "save", "temp")],
                         "outputs": [ref("a_o", "load", "temp"),
                                     ref("a_agg", "select", "temp"),
                                     ref(target, "save", "file")]}})
    con.close()
    return pool


def answer_ok(kind: str, got, expected) -> bool:
    import pandas as pd
    if kind == "analyze":
        return got == expected
    if not isinstance(got, list):
        return False
    if not got and not expected:
        return True
    return frames_match(pd.DataFrame(got), pd.DataFrame(expected))


class Client(threading.Thread):
    """One owner's closed loop: send, wait for the answer, check it.
    The window admits whole rounds that send every kind once in a
    seeded order, so every run sends the same mix."""

    def __init__(self, url: str, owner: str, pool, seed: int, idx: int,
                 corrupt: bool) -> None:
        super().__init__(name=f"perfbench-client-{idx}", daemon=True)
        self.url, self.owner, self.pool = url, owner, pool
        self.rng = np.random.default_rng([seed, 10 + idx])
        self.corrupt = corrupt
        self.win: Window | None = None      # set before start()
        self.warm_ops: list[Op] = []
        self.ops: list[Op] = []
        self.error: Exception | None = None

    def request(self, kind: str, variant: dict) -> Op:
        body = json.dumps({**variant["params"], "owner": self.owner}).encode()
        req = urllib.request.Request(
            f"{self.url}/run/script", data=body,
            headers={"Content-Type": "application/json"})
        t0 = time.time()
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                got = json.loads(r.read().decode())
            t1 = time.time()
        except urllib.error.HTTPError:
            return Op(t0, time.time(), False, kind)
        if self.corrupt and not self.ops:
            got = None
        return Op(t0, t1, answer_ok(kind, got, variant["expected"]), kind)

    def warm_up(self) -> None:
        for r in range(WARM_ROUNDS):
            for kind in KINDS:
                self.warm_ops.append(self.request(kind, self.pool[kind][r]))

    def run(self) -> None:
        last_round = 0.0
        try:
            while self.win.admits(last_round):
                t0 = time.time()
                for kind in self.rng.permutation(KINDS):
                    variant = self.pool[kind][int(self.rng.integers(VARIANTS))]
                    self.ops.append(self.request(str(kind), variant))
                last_round = time.time() - t0
        except Exception as e:       # re-raised by the caller after join
            self.error = e


def _start_server(work, traced: bool) -> tuple[subprocess.Popen, dict]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "rest_server.py"),
         "--work", work.sub("server"), "--trace", str(int(traced))],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    if not line:
        proc.wait(timeout=60)
        raise RuntimeError(f"server exited with {proc.returncode}")
    return proc, json.loads(line)


def _server_jobs(proc: subprocess.Popen) -> int:
    """Spark jobs the server's session has submitted so far."""
    proc.stdin.write("jobs\n")
    proc.stdin.flush()
    return json.loads(proc.stdout.readline())["jobs"]


def _stop_server(proc: subprocess.Popen) -> None:
    proc.stdin.close()
    try:
        proc.wait(timeout=90)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(work, seed: int, seconds: float, trace: bool, tiny: bool,
        corrupt: bool) -> Outcome:
    data = work.sub("data")
    props = gen_inputs("tpch", seed, data, sf=0.001 if tiny else 0.1,
                       tables="orders")
    orders = f"{data}/orders.parquet"
    pool = request_pool(seed, orders, work.sub("out"))
    t0 = time.time()
    proc, ready = _start_server(work, trace)
    try:
        url = f"http://127.0.0.1:{ready['port']}"
        meter = TreeMeter(ready["pid"]).start()
        clients = [Client(url, f"bench_{i}", pool, seed, i,
                          corrupt and i == 0) for i in range(CLIENTS)]
        warm = [threading.Thread(target=c.warm_up) for c in clients]
        for t in warm:
            t.start()
        for t in warm:
            t.join()
        setup_s = time.time() - t0
        jobs0, cpu0 = _server_jobs(proc), meter.cpu_s()
        win = Window(seconds)
        for c in clients:
            c.win = win
            c.start()
        for c in clients:
            c.join()
        window_s = win.close()
        window_cpu_s = meter.cpu_s() - cpu0
        window_jobs = _server_jobs(proc) - jobs0
        peak = meter.stop()
        for c in clients:
            if c.error is not None:
                raise c.error
        ops = sorted((op for c in clients for op in c.ops),
                     key=lambda op: op.start)
        rec = None
        if trace:
            from tracing import read_monitoring
            rec = read_monitoring(ready["ui"])
    finally:
        _stop_server(proc)
    layers = {}
    if trace:
        from tracing import per_layer, spans_from_json
        with open(work.sub("server", "spans.json")) as f:
            spans = spans_from_json(json.load(f))
        secs = [op.seconds for op in ops]
        layers = per_layer(spans, rec, "server.run_script", win.start,
                           statistics.median(secs),
                           client_latency_s=statistics.fmean(secs))
    kinds = {k: {"n": len(v), "median_ms": statistics.median(v) * 1000}
             for k in KINDS
             if (v := [op.seconds for op in ops if op.kind == k])}
    info = {"stamp": ready["stamp"], "inputs": props, "clients": CLIENTS,
            "loop": "closed", "requests_by_kind": kinds,
            "peak_rss": meter.peak_parts}
    checks = [op.ok for c in clients for op in c.warm_ops]
    return Outcome(setup_s, window_s, ops, window_jobs / len(ops),
                   window_cpu_s / len(ops), peak, info, layers,
                   checks_attempted=len(checks),
                   checks_failed=checks.count(False))
