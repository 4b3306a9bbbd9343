"""lake_day: one ingest day of a composed lake, against the day-0 lake.

Set-up builds the day-0 lake through the engine (TextNormalize ->
GopherQualityFilter -> versionedParquet lake, MinHashSignatures ->
signature store, DeterministicShard -> layout), then runs the timed
ingest once on a throwaway copy to warm the JVM.  Each repetition runs
the day-1 ingest on a fresh copy of the day-0 lake: curate, `!cache`,
BloomFilterDedup against the lake, NearDedup against the stored band
rows, MinHashSignatures and DeterministicShard for the kept rows, and
`save append` to all three stores.  The DuckDB oracle replays both
days with the repository's CTE helpers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from common import (Outcome, TreeMeter, Window, frames_match, gen_inputs,
                    replace_literals, session, stamp, timed, traced_layers)
from tracing import start_tracer


def state_script(raw0: str, st: str, gopher: str) -> str:
    return f"""
load parquet.`{raw0}` as lk_raw0;
run lk_raw0 as TextNormalize.`` as lk_n0;
run lk_n0 as GopherQualityFilter.`` where {gopher} as lk_g0;
select doc_id, text from lk_g0 as lk_day0;
save overwrite lk_day0 as versionedParquet.`{st}/lake`;
run lk_day0 as MinHashSignatures.`` as lk_sigs0;
save overwrite lk_sigs0 as parquet.`{st}/sigs`;
run lk_day0 as DeterministicShard.`` where numShards="16" as lk_l0;
select doc_id, shard, shard_pos from lk_l0 as lk_l0s;
save overwrite lk_l0s as parquet.`{st}/layout`;
"""


def day_script(day: str, st: str, gopher: str) -> str:
    return f"""
load parquet.`{day}` as ld_raw;
run ld_raw as TextNormalize.`` as ld_n;
run ld_n as GopherQualityFilter.`` where {gopher} as ld_g;
select doc_id, text from ld_g as ld_c;
!cache ld_c script;
load versionedParquet.`{st}/lake` as ld_hist;
run ld_c as BloomFilterDedup.`` where refTable="ld_hist" as ld_f;
!cache ld_f script;
load parquet.`{st}/sigs` as ld_s;
run ld_f as NearDedup.`` where refTable="ld_hist"
    and refBandsTable="ld_s" and threshold="0.8" as ld_k;
save append ld_k as versionedParquet.`{st}/lake`;
run ld_k as MinHashSignatures.`` as ld_sigs;
save append ld_sigs as parquet.`{st}/sigs`;
load parquet.`{st}/layout` as ld_prev;
run ld_k as DeterministicShard.`` where numShards="16"
    and refTable="ld_prev" as ld_l;
select doc_id, shard, shard_pos from ld_l as ld_ls;
save append ld_ls as parquet.`{st}/layout`;
"""


def oracle_ctes(E, days: list[str]) -> str:
    """DuckDB replay of both days: the repository's curated-lake CTE
    chain (`_CURATED_LAKE_CTES`) with its day definitions bound to the
    generated files (its second batch bound to no rows), then the
    per-day layout algebra.  Ends in day1_kept (the rows the timed day
    appends) and g0l/g1l."""
    read = "SELECT doc_id, text FROM read_parquet('{}')".format
    lake = replace_literals(E._CURATED_LAKE_CTES, {
        E._LAKE_DAY0: read(days[0]), E._LAKE_BATCH1: read(days[1]),
        E._LAKE_BATCH2: read(days[1]) + " WHERE false"})
    return f"""WITH RECURSIVE {lake},
{E._layout_ctes('g0', 'lake0', None)},
off1 AS (SELECT shard, max(shard_pos) + 1 AS o FROM g0l GROUP BY shard),
{E._layout_ctes('g1', 'day1_kept', 'off1')}
"""


def run(work, seed: int, seconds: float, trace: bool, tiny: bool,
        corrupt: bool) -> Outcome:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from streamingpro_spark import Engine
    data, state = work.sub("data"), work.sub("state")
    props = gen_inputs("lake", seed, data, lake_docs=60 if tiny else 600,
                       day_docs=40 if tiny else 240)
    days = [f"{data}/day{i}.parquet" for i in range(2)]
    gopher = E._CURATE_GOPHER

    def fresh(tag: str) -> str:
        """The ingest script for a fresh copy of the day-0 lake."""
        shutil.copytree(state, work.sub(tag))
        return day_script(days[1], work.sub(tag), gopher)

    tracer = start_tracer() if trace else None
    meter = TreeMeter(os.getpid()).start()
    with session(work, trace) as (spark, t0):
        info = {"stamp": stamp(spark)}
        eng = Engine(spark)
        eng.execute(state_script(days[0], state, gopher))
        eng.execute(fresh("warm"))
        setup_s = time.time() - t0
        win, ops = Window(seconds), []
        while win.admits(ops[-1].seconds if ops else 0.0):
            script = fresh(f"rep{len(ops)}")
            ops.append(timed(lambda: eng.execute(script), meter, spark))
        window_s = win.close()
        peak = meter.stop()
        layers = traced_layers(tracer, spark, win, ops)

    con = duckdb.connect()
    ctes = oracle_ctes(E, days)
    want_lake = con.execute(f"{ctes} SELECT doc_id FROM day1_kept").fetchdf()
    want_layout = con.execute(
        f"{ctes} SELECT doc_id, shard, shard_pos FROM g0l UNION ALL "
        "SELECT doc_id, shard, shard_pos FROM g1l").fetchdf()
    con.close()

    def correct(tag: str, damage: bool) -> bool:
        lake = pq.read_table(work.sub(tag, "lake", "v=1")).select(
            ["doc_id"]).to_pandas()
        layout = pq.read_table(work.sub(tag, "layout")).to_pandas()
        if damage:
            layout.loc[0, "shard_pos"] += 1
        return (frames_match(lake, want_lake)
                and frames_match(layout, want_layout))

    for i, op in enumerate(ops):
        op.ok = correct(f"rep{i}", corrupt and i == 0)
    warm_ok = correct("warm", False)
    info.update(inputs=props, peak_rss=meter.peak_parts,
                day1_kept=len(want_lake),
                layout_rows=len(want_layout))
    return Outcome(setup_s, window_s, ops,
                   statistics.median(op.jobs for op in ops),
                   statistics.median(op.cpu_s for op in ops), peak, info,
                   layers, checks_attempted=1, checks_failed=int(not warm_ok))
