"""tpch_report: one MLSQL report script over seeded TPC-H-ish tables.

The script `load`s the tables, `set`s seeded parameters that reach
the SQL through `${var}`, runs Q1, Q3, Q5, Q9, Q21,
top-customers-per-nation and events-sessionize, and `save`s each
result as parquet.  The queries are the repository's contract queries
(`__spark_entry__`), with their literals bound to the seeded values;
the DuckDB oracle runs the same texts with the same values.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from common import (Outcome, TreeMeter, Window, frames_match, gen_inputs,
                    replace_literals, session, stamp, timed, traced_layers)
from tracing import start_tracer

#: scale factor of the report's tables; one warm repetition takes about
#: 8-12 s on 4 cores, so give it a window of a minute
SF = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _queries(E) -> dict[str, tuple[str, str, dict[str, str]]]:
    """name -> (Spark text, DuckDB text, {literal: variable}).  Each
    literal is replaced by `${variable}` for the engine and by the
    variable's value for DuckDB."""
    o = E.oracle_sql()
    return {
        "q1": (o["q1_pricing_summary"], o["q1_pricing_summary"],
               {"'1998-09-02 00:00:00'": "'${q1_date} 00:00:00'"}),
        "q3": (o["q3_shipping_priority"], o["q3_shipping_priority"],
               {"'BUILDING'": "'${segment}'"}),
        "q5": (o["q5_local_supplier"], o["q5_local_supplier"],
               {"group by n.n_name":
                "where r.r_name = '${region}'\ngroup by n.n_name"}),
        "q9": (o["q9_product_profit"], o["q9_product_profit"],
               {"'%gear%'": "'%${part_word}%'"}),
        "q21": (o["q21_waiting_suppliers"], o["q21_waiting_suppliers"],
                {"interval 90 day": "interval ${late_days} day"}),
        "topcust": (o["top_customers_per_nation"],
                    o["top_customers_per_nation"],
                    {"rn <= 3": "rn <= ${top_n}"}),
        "sessionize": (E._SESSIONIZE_SPARK, o["events_sessionize"],
                       {"> 1800": "> ${gap_s}"}),
    }


def params(seed: int) -> dict[str, str]:
    from datagen import PART_ADJ, PART_NOUN, REGIONS, SEGMENTS
    rng = np.random.default_rng([seed, 3])
    q1 = np.datetime64("1997-01-01") + int(rng.integers(0, 4 * 365))
    return {
        "q1_date": str(q1),
        "segment": str(rng.choice(SEGMENTS)),
        "region": str(rng.choice(REGIONS)),
        "part_word": str(rng.choice(PART_ADJ + PART_NOUN)),
        "late_days": str(int(rng.integers(60, 121))),
        "top_n": str(int(rng.integers(2, 6))),
        "gap_s": str(int(rng.integers(900, 3601))),
    }


def fill(template: str, env: dict[str, str]) -> str:
    for k, v in env.items():
        template = template.replace("${" + k + "}", v)
    return template


def script(data: str, out: str, env: dict[str, str], queries) -> str:
    lines = [f'set {k} = "{v}";' for k, v in env.items()]
    lines += [f"load parquet.`{data}/{t}.parquet` as {t};" for t in TABLES]
    for name, (spark_sql, _duck, lits) in queries.items():
        text = replace_literals(spark_sql, lits).strip()
        lines.append(f"{text}\nas r_{name};")
        lines.append(f"save overwrite r_{name} as parquet.`{out}/{name}`;")
    return "\n".join(lines)


def run(work, seed: int, seconds: float, trace: bool, tiny: bool,
        corrupt: bool) -> Outcome:
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from streamingpro_spark import Engine
    data = work.sub("data")
    props = gen_inputs("tpch", seed, data, sf=0.001 if tiny else SF)
    env = params(seed)
    queries = _queries(E)

    def one(tag: str) -> None:
        eng.execute(script(data, work.sub("out", tag), env, queries))

    tracer = start_tracer() if trace else None
    meter = TreeMeter(os.getpid()).start()
    with session(work, trace) as (spark, t0):
        info = {"stamp": stamp(spark)}
        eng = Engine(spark)
        one("warmup")
        setup_s = time.time() - t0
        win, ops = Window(seconds), []
        while win.admits(ops[-1].seconds if ops else 0.0):
            ops.append(timed(lambda: one(f"rep{len(ops)}"), meter, spark))
        window_s = win.close()
        peak = meter.stop()
        layers = traced_layers(tracer, spark, win, ops)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    want = {name: con.execute(replace_literals(
                duck, {k: fill(v, env) for k, v in lits.items()})).fetchdf()
            for name, (_s, duck, lits) in queries.items()}
    con.close()
    rows = {}
    for i, op in enumerate(ops):
        for name in queries:
            got = pq.read_table(work.sub("out", f"rep{i}", name)).to_pandas()
            if corrupt and i == 0 and name == "q1":
                got = pd.concat([got, got.head(1)])
            rows[name] = len(got)
            op.ok = op.ok and frames_match(got, want[name])
    info.update(params=env, inputs=props, peak_rss=meter.peak_parts,
                result_rows=rows)
    return Outcome(setup_s, window_s, ops,
                   statistics.median(op.jobs for op in ops),
                   statistics.median(op.cpu_s for op in ops), peak, info,
                   layers)
