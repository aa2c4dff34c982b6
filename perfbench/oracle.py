#!/usr/bin/env python3
"""Regenerate the benchmark's expected values.

    python3 perfbench/oracle.py                      query-mix checksums (DuckDB)
    python3 perfbench/oracle.py fingerprints 0-63    tile_ingest table fingerprints

Asks the engine for its oracle SQL (`SparkEntry.oracleSql`) of every query
in the mixes, runs it with DuckDB over the bundled parquet tables and writes
`perfbench/expected/<sf>.json`: query name -> "<rows>:<checksum>". The
checksum is the order-independent one of `graftbench.Canon`, rebuilt here
value for value, so the benchmark compares each Spark result with DuckDB's.

`fingerprints` runs tile_ingest's commits once per seed (full size) and
writes `perfbench/expected/tile_fingerprints.json`: the table fingerprint
(rows and xor of the batch fingerprints) that every later run of that seed
must reproduce, at any parallelism.
"""
import shutil
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TWO_TO_53 = float(2 ** 53)
EPOCH = datetime.date(1970, 1, 1)


def dbl(d):
    if d != d:
        return "dNaN"
    if not math.isinf(d) and d == math.floor(d) and abs(d) < TWO_TO_53:
        return "n%d" % int(d)
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    return "d" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "n%d" % v
    if isinstance(v, float):
        return dbl(v)
    if isinstance(v, decimal.Decimal):
        return "n%d" % int(v) if v == v.to_integral_value() else dbl(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return "t%d" % (delta.days * 86400000000 + delta.seconds * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return "D%d" % (v - EPOCH).days
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return "?" + str(v)


def checksum(rows, columns):
    order = [i for _, i in sorted((c, i) for i, c in enumerate(columns))]
    total = 0
    for r in rows:
        line = "|".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha1(line.encode("utf-8")).digest()[:8], "big")
    return "%d:%s" % (len(rows), format(total & 0xFFFFFFFFFFFFFFFF, "x"))


def oracle_sql(cp):
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = os.path.join(tmp, "sql.json")
        subprocess.run(["java", "-cp", cp, "graftbench.Main", "--mode", "oracle-sql", "--out", out],
                       check=True, stdout=subprocess.DEVNULL)
        with open(out) as fh:
            return json.load(fh)


def fingerprints(cp, seeds):
    work = os.path.join(run.BUILD, "work", "fingerprints")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        subprocess.run(run.java(cp, work) + ["--mode", "fingerprints", "--seeds", seeds,
                                             "--work", work, "--out", run.FINGERPRINTS],
                       check=True, cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    cp = run.build()
    if sys.argv[1:2] == ["fingerprints"]:
        fingerprints(cp, sys.argv[2] if len(sys.argv) > 2 else "0-63")
        return
    queries = oracle_sql(cp)
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(run.DATA, f)}'")
    expected = {}
    for name, sql in sorted(queries.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        expected[name] = checksum(cur.fetchall(), cols)
        print(name, expected[name])
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
