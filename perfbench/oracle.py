#!/usr/bin/env python3
"""Produce the DuckDB answers the corpus queries are checked against.

    python3 perfbench/oracle.py

Builds the benchmark (as run.py does), asks it for `SparkEntry.oracleSql`
of every query `corpus_dedup` runs, generates the tables at both scales, runs
each SQL in DuckDB and writes the order-independent checksums (the same
canonical form as `Checksum.scala`) to `perfbench/expected/`. Run it once
after a change to the query set, the oracle SQL or the table generator;
the runs themselves only read the file.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

import run

EPOCH = dt.datetime(1970, 1, 1)
EPOCH_TZ = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _num(x):
    if math.isnan(x):
        return "nan"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == math.floor(x) and abs(x) < 9e15:
        return f"n:{int(x)}"
    return "f:%x" % struct.unpack("<Q", struct.pack("<d", x))[0]


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):
        delta = v - (EPOCH_TZ if v.tzinfo else EPOCH)
        return f"t:{(delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds}"
    if isinstance(v, dt.date):
        return f"d:{(v - dt.date(1970, 1, 1)).days}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):  # STRUCT
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return "?:" + str(v)


def checksum(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        text = "\u0001".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")
        n += 1
    return f"{n}:{total % (1 << 64):x}:{','.join(sorted(columns))}"


def answers(sql_by_name, tables_dir):
    con = duckdb.connect()
    for t in run.gen.TABLE_FILES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(sql_by_name.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = checksum(cols, cur.fetchall())
        print(f"{name}: {out[name]}", file=sys.stderr)
    return out


def main():
    classpath = run.build()
    work = os.path.join(run.WORK, "oracle")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    subprocess.run(run.java_cmd(classpath, work, ["--dump-oracle-sql", sql_file]),
                   check=True, stdin=subprocess.DEVNULL)
    with open(sql_file) as f:
        sql = json.load(f)
    expected = {}
    for tiny in (False, True):
        tables, fp = run.ensure_tables(run.CORPUS_SCALE[tiny])
        expected["tiny" if tiny else "full"] = {
            "fingerprint": fp, "checksums": answers(sql, tables)}
    os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
    with open(os.path.join(run.HERE, "expected", "corpus_queries.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
