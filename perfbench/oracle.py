#!/usr/bin/env python3
"""Regenerates expected_digests.json from the DuckDB oracle.

Usage (from the root of an engine checkout):

    python3 perfbench/oracle.py

For every query the benchmark runs it executes the query's
SparkEntry.oracleSql in DuckDB over the fixture tables, digests the
result with the encoding of Digest.scala, and compares it with the
engine's digest from a short traced benchmark run. Only when every query agrees
does it write expected_digests.json (the oracle's digests plus the
fixture tables' content hash); otherwise it lists the disagreements and
exits 1.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import sys

import duckdb

import run

EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DAY = datetime.date(1970, 1, 1)


def _num(x, out):
    if x != x:
        out.append(b"F")
    elif abs(x) < 9.0e18 and x == int(x):
        out.append(b"I" + struct.pack(">q", int(x)))
    else:
        out.append(b"D" + struct.pack(">d", x))


def enc(v, out):
    """Canonical bytes of one value; mirrors Digest.enc."""
    if v is None:
        out.append(b"N")
    elif isinstance(v, bool):
        out.append(b"B" + (b"\x01" if v else b"\x00"))
    elif isinstance(v, int):
        out.append(b"I" + struct.pack(">q", v))
    elif isinstance(v, float):
        _num(v, out)
    elif isinstance(v, decimal.Decimal):
        _num(float(v), out)
    elif isinstance(v, str):
        b = v.encode("utf-8")
        out.append(b"S" + struct.pack(">i", len(b)) + b)
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        out.append(b"T" + struct.pack(">q", (v - EPOCH) // datetime.timedelta(microseconds=1)))
    elif isinstance(v, datetime.date):
        out.append(b"A" + struct.pack(">q", (v - EPOCH_DAY).days))
    elif isinstance(v, bytes):
        out.append(b"Y" + struct.pack(">i", len(v)) + v)
    elif isinstance(v, dict):
        out.append(b"R" + struct.pack(">i", len(v)))
        for x in v.values():
            enc(x, out)
    elif isinstance(v, list):
        out.append(b"L" + struct.pack(">i", len(v)))
        for x in v:
            enc(x, out)
    else:
        raise TypeError(f"digest: unsupported value type {type(v)}")


def digest(table):
    """Digest of a pyarrow table: row count and wrapping row-hash sum."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    h = 0
    for row in zip(*cols):
        out = []
        for v in row:
            enc(v, out)
        h = (h + int.from_bytes(hashlib.md5(b"".join(out)).digest()[:8], "big")) % 2**64
    return f"{table.num_rows}:{h:x}"


def main():
    cp = run.classpath()
    data, fixture_hash = run.fixtures()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    expected, bad = {}, []
    sql_file = os.path.join(run.BUILD, "oracle-telemetry_mix.json")
    run.jvm(cp, "telemetry_mix", 0, 1, 0, data, 300, ["--dump-oracle", sql_file])
    with open(sql_file) as f:
        oracle = json.load(f)
    # a traced run also executes the kernel queries of its layers
    engine = run.jvm(cp, "telemetry_mix", 0, 1, 1, data, 300)["digests"]
    for q, sql in sorted(oracle.items()):
        want = digest(con.sql(sql).arrow())
        got = set(engine.get(q, []))
        if got != {want}:
            bad.append(f"{q}: oracle {want}, engine {sorted(got)}")
        expected[q] = want
    if bad:
        print("\n".join(bad))
        sys.exit(1)
    out = os.path.join(run.HERE, "expected_digests.json")
    with open(out, "w") as f:
        json.dump({"fixture_sha256": fixture_hash, "queries": expected}, f,
                  indent=2, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)} queries: engine == DuckDB oracle; wrote {out}")


if __name__ == "__main__":
    main()
