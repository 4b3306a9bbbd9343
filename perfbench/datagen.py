"""Seeded input generation: TPC-H-ish tables, the lake corpus, and
the REST script inputs.  Everything here is a pure function of the
seed (NumPy's PCG64), so one seed always yields byte-identical inputs.

The tables follow the schemas of the repository's fixture family A
(FIXTURES.md); sizes scale with `sf` the way the fixtures do.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "green", "hot", "large", "small", "red", "steel", "pale"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "valve", "spring", "pipe", "cog"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: lake vocabulary: content words plus the Gopher stopword list, so the
#: quality filter's keep/drop verdict depends on each document's draw
CONTENT_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer join index shard lake commit version schema "
    "record field token corpus train model label score metric").split()
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_DAY0 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
_EVENT_T0 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(epoch_us + offsets_us.astype(np.int64),
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, drawn as whole cents like TPC-H's dbgen."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(int(150_000 * sf), 20), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 50), max(int(1_500_000 * sf), 200)
    n_user, n_evt = max(int(15_000 * sf), 20), max(int(1_000_000 * sf), 200)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90000 + pk % 20001) / 100.0})
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, _ORDER_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 800.0, 450_000.0, n_ord),
        "o_orderdate": _ts(_DAY0, odays * 86_400 * 10**6),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(ok, lines)
    n_li = len(lo)
    starts = np.cumsum(lines) - lines
    lnum = np.arange(n_li) - np.repeat(starts, lines) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_DAY0, (np.repeat(odays, lines)
                                  + rng.integers(1, 122, n_li))
                          * 86_400 * 10**6)})
    off = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_EVENT_T0, off),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _money(rng, 0.0, 200.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def _doc(rng: np.random.Generator, n_words: int, stop_p: float) -> str:
    words = np.array(CONTENT_WORDS)[rng.integers(0, len(CONTENT_WORDS), n_words)]
    stops = rng.random(n_words) < stop_p
    words[stops] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), stops.sum())]
    return " ".join(words)


def corpus(rng: np.random.Generator, n: int) -> list[str]:
    """`n` distinct documents.  About one in six is too short for the
    Gopher filter (minWords=20) and one in twelve has no stopword, so
    curation drops a seed-dependent share of every day."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        short = rng.random() < 1 / 6
        n_words = int(rng.integers(6, 19) if short else rng.integers(20, 61))
        text = _doc(rng, n_words, 0.0 if rng.random() < 1 / 12 else 0.12)
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def _day(rng: np.random.Generator, history: list[tuple[int, str]],
         fresh: list[tuple[int, str]], n_day: int, first_id: int,
         shares: dict) -> tuple[pa.Table, dict]:
    """One ingest day from `history` and `fresh` (base, text) entries,
    where a base is the document a text was derived from: exact
    re-ingests and near duplicates (one word appended) of seeded
    history entries, intra-day pairs (one new text under two ids; the
    larger id is dropped) and new documents.  Every duplicate comes
    from a different base, so the day's only near-duplicate clusters
    inside the batch are its intra-day pairs.  Returns the day's table
    and its properties."""
    n_exact = int(n_day * shares["exact"])
    n_near = int(n_day * shares["near"])
    n_pairs = int(n_day * shares["intra_pairs"])
    n_new = n_day - n_exact - n_near - 2 * n_pairs
    by_base: dict[int, list[str]] = {}
    for base, text in history:
        by_base.setdefault(base, []).append(text)
    bases = sorted(by_base)
    picked = []
    for i in rng.choice(len(bases), n_exact + n_near, replace=False):
        texts = by_base[bases[i]]
        picked.append((bases[i], texts[int(rng.integers(len(texts)))]))
    extra = np.array(CONTENT_WORDS)[rng.integers(0, len(CONTENT_WORDS), n_near)]
    entries = (picked[:n_exact]
               + [(b, f"{t} {w}") for (b, t), w in zip(picked[n_exact:], extra)]
               + fresh[:n_pairs] + fresh[:n_pairs]
               + fresh[n_pairs:n_pairs + n_new])
    ids = (first_id + rng.permutation(len(entries))).astype(np.int64)
    table = pa.table({"doc_id": ids, "text": [t for _, t in entries]})
    return table, {"docs": len(entries), "exact_dups": n_exact,
                            "near_dups": n_near, "intra_pairs": n_pairs,
                            "new_docs": n_new}


def lake_days(seed: int, n_lake: int, n_day: int) -> tuple[list[pa.Table], dict]:
    """The day-0 lake and one ingest day that duplicates day-0
    documents.  The duplicate shares and which documents are
    duplicated are seeded."""
    rng = np.random.default_rng([seed, 2])
    shares = {"exact": round(float(rng.uniform(0.08, 0.12)), 3),
              "near": round(float(rng.uniform(0.08, 0.12)), 3),
              "intra_pairs": round(float(rng.uniform(0.04, 0.06)), 3)}
    entries = list(enumerate(corpus(rng, n_lake + n_day)))
    lake = entries[:n_lake]
    lake0 = pa.table({"doc_id": rng.permutation(n_lake).astype(np.int64),
                      "text": [t for _, t in lake]})
    day1, p1 = _day(rng, lake, entries[n_lake:], n_day, 10_000_000,
                       shares)
    return [lake0, day1], {"lake_docs": n_lake, "day1": p1, "shares": shares}


def main(argv: list[str] | None = None) -> int:
    """CLI used by the harness: write one workload's inputs under --out
    and print their properties as one JSON line."""
    import argparse
    import json
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["tpch", "lake"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--tables", default="")
    ap.add_argument("--lake_docs", type=int, default=600)
    ap.add_argument("--day_docs", type=int, default=240)
    a = ap.parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    if a.kind == "tpch":
        tables = tpch_tables(a.seed, a.sf)
        if a.tables:
            tables = {k: tables[k] for k in a.tables.split(",")}
        write_tables(tables, a.out)
        props = {"sf": a.sf, "rows": {k: v.num_rows for k, v in tables.items()}}
    else:
        days, props = lake_days(a.seed, a.lake_docs, a.day_docs)
        for i, tab in enumerate(days):
            pq.write_table(tab, os.path.join(a.out, f"day{i}.parquet"))
    print(json.dumps(props))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
