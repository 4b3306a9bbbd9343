"""Fast self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

For each workload, at tiny size and a 1-second window:
  * a traced run prints every per-layer metric of BENCHMARK.json with
    its unit and passes its correctness check;
  * an untraced run with one result deliberately damaged prints every
    end-to-end metric with its unit and reports the damage as a failed
    operation (error_share > 0), not as a correct run.
Finally the benchmark must refuse to run, with a non-zero exit and no
result line, from a directory that holds only BENCHMARK.json and
perfbench/.  Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import json
import math
import multiprocessing
import os
import shutil
import subprocess
import sys

from common import BENCH_DIR, ROOT, WORK_ROOT
from run import WORKLOADS, run_workload


def _check(ok: bool, what: str, failures: list[str]) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def _metrics_ok(result: dict, spec: list[dict]) -> bool:
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    return (set(got) == set(want)
            and all(got[k]["unit"] == u for k, u in want.items())
            and all(isinstance(got[k]["value"], (int, float))
                    and math.isfinite(got[k]["value"]) for k in want))


def _isolated(name: str, trace: bool, corrupt: bool) -> tuple[dict, dict]:
    """Each run gets a fresh process: a Python process can host only one
    PySpark gateway."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(1) as pool:
        return pool.apply(run_workload, (name, 7, 1.0, trace, True, corrupt))


def _refuses_without_program(failures: list[str]) -> None:
    bare = os.path.join(WORK_ROOT, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)
    _check(res.returncode != 0 and '"metrics"' not in res.stdout,
           "refuses to run without the program", failures)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures: list[str] = []
    for name in WORKLOADS:
        result, _desc = _isolated(name, True, False)
        _check(result["correct"] and result["attempted"] >= 1,
               f"{name}: traced run correct", failures)
        _check(_metrics_ok(result, spec["per_layer"]),
               f"{name}: every per-layer metric with its unit", failures)
        result, desc = _isolated(name, False, True)
        _check(_metrics_ok(result, spec["end_to_end"]),
               f"{name}: every end-to-end metric with its unit", failures)
        _check(not result["correct"] and result["failed"] >= 1
               and desc["error_share"] > 0,
               f"{name}: damaged result counted in error_share", failures)
    _refuses_without_program(failures)
    print("selftest:", "OK" if not failures else f"{len(failures)} failed")
    return 0 if not failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
