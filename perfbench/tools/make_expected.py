#!/usr/bin/env python3
"""Compute the query panel's expected results with DuckDB.

    python3 perfbench/run.py --dump-oracle oracle.json
    python3 perfbench/tools/make_expected.py oracle.json

Runs each panel gate's oracle SQL (the engine's `SparkEntry.oracleSql`)
on the fixed tables in perfbench/data/tpch and writes the row count and
SHA-256 of each result, in the engine-neutral form of
perfbench/src/main/scala/graftbench/Canon.scala, to
perfbench/expected/panel.json. Needs the `duckdb` Python package; the
benchmark itself does not.
"""
import datetime
import decimal
import hashlib
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(HERE, "data", "tpch")
OUT = os.path.join(HERE, "expected", "panel.json")
EXACT = decimal.Context(prec=2000)
EPOCH = datetime.datetime(1970, 1, 1)


def plain(d):
    if d == 0:
        return "0"
    return format(d.normalize(EXACT), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Infinity" if v > 0 else "-Infinity"
        return plain(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return plain(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v)}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(("\u0001".join(value(r[i]) for i in order)).encode("utf-8") for r in rows)
    h = hashlib.sha256("\u0001".join(columns[i] for i in order).encode("utf-8"))
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return {"rows": len(rows), "sha256": h.hexdigest()}


def main():
    with open(sys.argv[1]) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(DATA)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(DATA, t)}')")
    gates = {}
    for name in sorted(oracle):
        cur = con.execute(oracle[name])
        cols = [d[0] for d in cur.description]
        gates[name] = digest(cols, cur.fetchall())
        print(name, gates[name]["rows"], file=sys.stderr)
    with open(OUT, "w") as f:
        json.dump({"engine": f"duckdb {duckdb.__version__}", "data": "perfbench/data/tpch",
                   "gates": gates}, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
