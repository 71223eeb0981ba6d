#!/usr/bin/env python3
"""Regenerates perfbench/oracle_sf0.01.tsv, the stored answers the
operators probe checks each query key against.

For every probed key with an oracle in `SparkEntry.oracleSql`, runs
that SQL in DuckDB over perfbench/data/sf0.01 and stores the row count
and the order-insensitive result hash that `Answer.hash` (Answer.scala)
computes on the Spark side. Keys that are approximate by design
(`SparkEntry.approxKeys`) are checked by row count alone; their counts
are fixed by the key's definition and listed in APPROX_ROWS.

Usage, from the checkout root:  python3 perfbench/oracle.py
Needs the duckdb Python package (1.0) and a JVM to dump the SQL.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the source tree free of caches
import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "oracle_sf0.01.tsv")
# sim_ivf_topk: the top 10 neighbours of each of 5 query vectors
APPROX_ROWS = {"sim_ivf_topk": 50}


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        d = float(v)
        if d == 0.0:
            d = 0.0
        if d != d:
            d = float("nan")
        return "n" + struct.pack(">d", d).hex()
    if isinstance(v, str):
        return f"s{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return "t" + str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return "?" + str(v)


def result_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    row_hashes = sorted(
        hashlib.sha256("|".join(canon(r[i]) for i in order).encode()).hexdigest()
        for r in rows)
    return hashlib.sha256("".join(row_hashes).encode()).hexdigest()


def main():
    cp = build.ensure(os.getcwd())
    dump = os.path.join(build.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.Main",
                    "--dump-oracle-sql", dump], check=True)
    with open(dump) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{DATA}/{f}')")
    lines = []
    for key, sql in sorted(spec["oracle"].items()):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
        lines.append(f"{key}\t{len(rows)}\t{result_hash(names, rows)}")
    for key in sorted(spec["approx"]):
        lines.append(f"{key}\t{APPROX_ROWS[key]}\t-")
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"{len(lines)} keys -> {OUT}")


if __name__ == "__main__":
    main()
