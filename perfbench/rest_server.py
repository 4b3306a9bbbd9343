"""The server process of rest_interactive: MLSQLServer on a
host-correct session, optionally traced.

    python3 perfbench/rest_server.py --work <dir> --trace <0|1>

Prints one JSON line {"port", "ui", "pid", "stamp"} when it accepts
requests, then serves until its stdin closes.  Each line "jobs" on
stdin is answered with one JSON line {"jobs"}: the Spark jobs the
session has submitted so far.  A traced server writes its spans to
<work>/spans.json before the session stops.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from common import (jobs_started, prepare_env, start_session, stamp,
                    stop_session)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    prepare_env(args.work)
    tracer = None
    if args.trace:
        from tracing import start_tracer
        tracer = start_tracer()
    from streamingpro_spark.server import MLSQLServer
    spark = start_session(args.work, bool(args.trace))
    try:
        srv = MLSQLServer(spark).start()
        print(json.dumps({"port": srv.port, "ui": spark.sparkContext.uiWebUrl,
                          "pid": os.getpid(), "stamp": stamp(spark)}),
              flush=True)
        # serve until the client, done with the monitoring API, closes
        # stdin
        for line in sys.stdin:
            if line.strip() == "jobs":
                print(json.dumps({"jobs": jobs_started(spark)}), flush=True)
        srv.stop()
        if tracer is not None:
            from tracing import spans_to_json
            with open(os.path.join(args.work, "spans.json"), "w") as f:
                json.dump(spans_to_json(tracer.spans), f)
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
