#!/usr/bin/env python3
"""Record the analytics workload's expected gate hashes from the DuckDB oracle.

Run once from the root of a checkout (needs the duckdb Python package):

    python3 perfbench/record_oracle.py

It asks the harness for the gates' oracle SQL (TimelyQueries.oracles, the
same SQL tools/check_oracle.py runs), executes it in DuckDB over
perfbench/data/events.parquet, and writes perfbench/data/oracle_hashes.json.
The hash is the one perfbench.Canon computes from the Spark output: columns
in name order, each row rendered as text, rows sorted by UTF-8 bytes,
SHA-256 over the header and the rows.
"""
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

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")


def num(x):
    if math.isnan(x):
        return "NaN"
    if not math.isinf(x) and x == math.floor(x) and abs(x) < 9.007199254740992e15:
        return str(int(x))
    return struct.pack(">d", x).hex()


def render(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return num(float(v))
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, dict):
        return "{" + ",".join(sorted(render(k) + ":" + render(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, (datetime.date, datetime.datetime)):
        raise SystemExit(f"unsupported oracle value type: {type(v)}")
    return "S" + str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(("\u0001".join(render(r[i]) for i in order)).encode() for r in rows)
    h = hashlib.sha256()
    h.update("\u0001".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return h.hexdigest()


def main():
    with tempfile.TemporaryDirectory() as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--dump-oracle-sql", sql_file],
                       check=True)
        oracle = json.load(open(sql_file))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{os.path.join(DATA, 'events.parquet')}')")
    gates = {}
    for name, sql in sorted(oracle.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        gates[name] = {"sha256": table_hash(cols, rows), "rows": len(rows)}
        print(f"{name}: {len(rows)} rows")
    out = {"source": "DuckDB oracle (TimelyQueries.oracles) over events.parquet", "gates": gates}
    with open(os.path.join(DATA, "oracle_hashes.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
