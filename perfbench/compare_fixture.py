#!/usr/bin/env python3
"""Compare ``datagen.py``'s tables with a reference fixture directory.

    python3 perfbench/compare_fixture.py <fixture_dir> [--seed 42] [--sf 0.1]

Generates the tables for ``(seed, sf)`` into a temporary directory and
prints, side by side with the fixture: each column's parquet physical
type and timestamp unit, its distinct count, range, mean and standard
deviation; structural probes (row order, the order-to-lineitem fan-out,
event inter-arrival gaps, the near-duplicate share of documents); and
the row count of every benchmark query's DuckDB oracle. Exits 1 when a
row count or a column's physical type differs, 0 otherwise; the value
statistics are for reading, since two seeds never give equal values.
Rerun it whenever the fixture generation changes.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

PROBES = {
    "lineitem rows out of l_orderkey order":
        "select count(*) from (select l_orderkey k, lag(l_orderkey) over () p from lineitem) where k < p",
    "lines per order p10/p50/p90":
        "select quantile_cont(c, [0.1, 0.5, 0.9]) from (select count(*) c from lineitem group by l_orderkey)",
    "repeated (l_orderkey, l_linenumber)":
        "select count(*) - count(distinct (l_orderkey, l_linenumber)) from lineitem",
    "l_shipdate - o_orderdate days p10/p50/p90":
        "select quantile_cont(date_diff('day', o_orderdate, l_shipdate), [0.1, 0.5, 0.9]) "
        "from lineitem join orders on l_orderkey = o_orderkey",
    "l_discount share 0.00/0.05/0.10":
        "select [avg((l_discount = 0)::int), avg((l_discount = 0.05)::int), avg((l_discount = 0.1)::int)] from lineitem",
    "l_tax share 0.00/0.04/0.08":
        "select [avg((l_tax = 0)::int), avg((l_tax = 0.04)::int), avg((l_tax = 0.08)::int)] from lineitem",
    "events ts out of event_id order":
        "select count(*) from (select ts k, lag(ts) over (order by event_id) p from events) where k < p",
    "events gap seconds p10/p50/p90/max":
        "select quantile_cont(g, [0.1, 0.5, 0.9, 1.0]) from (select (epoch_us(ts) - "
        "epoch_us(lag(ts) over (order by event_id))) / 1e6 g from events)",
    "events per user p10/p50/p90":
        "select quantile_cont(c, [0.1, 0.5, 0.9]) from (select count(*) c from events group by user_id)",
    "documents words p10/p50/p90":
        "select quantile_cont(len(string_split(text, ' ')), [0.1, 0.5, 0.9]) from documents",
    "documents vocabulary":
        "select count(distinct w) from (select unnest(string_split(text, ' ')) w from documents)",
    "documents that extend another by ' dup'":
        "select count(*) from documents a join documents b on a.doc_id <> b.doc_id "
        "and starts_with(b.text, a.text || ' ')",
    "embeddings norm min/max":
        "select [min(n), max(n)] from (select sqrt(list_sum(list_transform(embedding, x -> x * x))) n from embeddings)",
}


def column_stats(con, path: str) -> list[tuple]:
    rows = []
    meta = pq.ParquetFile(path).schema
    for i in range(len(meta)):
        col = meta.column(i)
        name = col.path.split(".")[0]
        if any(r[0] == name for r in rows):
            continue
        logical = str(col.logical_type)
        unit = logical.split("timeUnit=")[1].split(",")[0] if "timeUnit=" in logical else ""
        kind = f"{col.physical_type}{'/' + unit if unit else ''}"
        if "." in col.path:  # list column: type only
            rows.append((name, kind, "", "", "", "", ""))
            continue
        q = f'select count(distinct "{name}"), min("{name}"), max("{name}") from read_parquet(\'{path}\')'
        distinct, lo, hi = con.execute(q).fetchone()
        mean = sd = ""
        if col.physical_type in ("INT32", "INT64", "DOUBLE") and not unit:
            m, s = con.execute(
                f'select avg("{name}"), stddev("{name}") from read_parquet(\'{path}\')'
            ).fetchone()
            mean, sd = f"{m:.4g}", f"{s:.4g}"
        rows.append((name, kind, distinct, str(lo)[:26], str(hi)[:26], mean, sd))
    return rows


def connect(data_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{data_dir}/{t}.parquet')")
    return con


def fmt(v) -> str:
    if isinstance(v, list):
        return "[" + ", ".join(f"{x:.4g}" for x in v) + "]"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("fixture_dir")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--sf", type=float, default=0.1)
    args = p.parse_args()
    ref = os.path.abspath(args.fixture_dir)
    differs = False
    with tempfile.TemporaryDirectory() as tmp:
        gen = datagen.write_fixture(tmp, args.seed, args.sf)
        con = duckdb.connect()
        print(f"columns: fixture | generated (seed {args.seed}, sf {args.sf})")
        for t in TABLES:
            want = column_stats(con, f"{ref}/{t}.parquet")
            got = column_stats(con, f"{gen}/{t}.parquet")
            n_ref = con.execute(f"select count(*) from read_parquet('{ref}/{t}.parquet')").fetchone()[0]
            n_gen = con.execute(f"select count(*) from read_parquet('{gen}/{t}.parquet')").fetchone()[0]
            differs |= n_ref != n_gen
            print(f"== {t}: rows {n_ref} | {n_gen}")
            for w, g in zip(want, got, strict=True):
                differs |= w[:2] != g[:2]
                mark = "  " if w[:2] == g[:2] else "!!"
                print(f"{mark} {w[0]:16} {w[1]:>12} | {g[1]:<12} distinct {w[2]} | {g[2]}  "
                      f"range {w[3]}..{w[4]} | {g[3]}..{g[4]}  mean {w[5]} | {g[5]}  sd {w[6]} | {g[6]}")

        cons = {"fixture": connect(ref), "generated": connect(gen)}
        print("probes: fixture | generated")
        for label, sql in PROBES.items():
            vals = [fmt(c.execute(sql).fetchone()[0]) for c in cons.values()]
            print(f"   {label:45} {vals[0]} | {vals[1]}")

        from sparkstreaming_mq_spark import registry
        from sparkstreaming_mq_spark.oracle import duckdb_connect

        oracles = registry.all_oracles()
        print("oracle rows: fixture | generated")
        for wname, w in WORKLOADS.items():
            ref_con, gen_con = duckdb_connect(ref), duckdb_connect(gen)
            for q in w.queries:
                a = len(ref_con.execute(oracles[q]).fetchdf())
                b = len(gen_con.execute(oracles[q]).fetchdf())
                differs |= a != b
                print(f"{'  ' if a == b else '!!'} {wname:14} {q:28} {a} | {b}")
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main())
