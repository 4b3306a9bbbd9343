"""The repository's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists and which
layer should move which metric):

    tpch_report       batch MLSQL report over TPC-H-ish tables
    lake_day          composed curate -> dedup -> layout ingest day
    rest_interactive  2 closed-loop clients against MLSQLServer

Every result is checked against an independent DuckDB or Python
reference outside the timed window.  The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; metrics
are the end-to-end metrics with --trace 0 and the per-layer metrics
with --trace 1.  The line before it describes the run (host stamp,
seed, input properties, the window's ungated times: wall-clock
figures with their sample count, CPU time per operation and peak
memory; error share).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

from common import ROOT, WorkDir, end_to_end, op_summary, prepare_env

END_TO_END_UNITS = {"setup_s": "s", "op_jobs": "count"}
WORKLOADS = ("tpch_report", "lake_day", "rest_interactive")


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 tiny: bool = False, corrupt: bool = False) -> tuple[dict, dict]:
    """Run one workload; return (result, description).  `tiny` shrinks
    the inputs and `corrupt` damages one result before its check; both
    exist for the self-test."""
    work = WorkDir(name)
    try:
        prepare_env(work.path)
        mod = importlib.import_module(name)
        out = mod.run(work, seed, seconds, trace, tiny, corrupt)
    finally:
        work.close()
    attempted = len(out.ops) + out.checks_attempted
    failed = sum(not op.ok for op in out.ops) + out.checks_failed
    if trace:
        from tracing import PER_LAYER_UNITS
        out.per_layer["trace.op_cpu_s"] = out.op_cpu_s
        out.per_layer["trace.peak_rss_mb"] = out.peak_rss_mb
        metrics = {k: {"value": out.per_layer[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in end_to_end(out).items()}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    desc = {"workload": name, "seed": seed, "seconds": seconds,
            "trace": int(trace), "error_share": failed / attempted,
            "window_s": out.window_s, "wall": op_summary(out),
            "op_cpu_s": out.op_cpu_s, "peak_rss_mb": out.peak_rss_mb,
            **out.info}
    return result, desc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "streamingpro_spark")):
        print(f"perfbench: no streamingpro_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    result, desc = run_workload(args.workload, args.seed, args.seconds,
                                bool(args.trace))
    print(json.dumps(desc, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
