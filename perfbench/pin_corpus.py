#!/usr/bin/env python3
"""Pin the corpus workload's expected outputs from the DuckDB oracle.

    python3 perfbench/pin_corpus.py

For every corpus query, runs the oracle SQL that `SparkEntry.oracleSql`
holds against the vendored sf0.1 tables in DuckDB and writes the row count
and order-insensitive digest (rendered exactly as the harness's
RowHash.exact renders Spark rows) to expected/corpus_sf0.1.json. Rerun
only when the oracle SQL or the data changes.
"""
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

import run  # noqa: E402
import workloads  # noqa: E402

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def render(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return format(struct.unpack(">Q", struct.pack(">d", 0.0 if v == 0.0 else v))[0], "x")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    raise TypeError(f"no engine-neutral rendering for {type(v).__name__}: {v!r}")


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        cells = "\x01".join(render(r[i]) for i in order).encode("utf-8")
        total += int.from_bytes(hashlib.md5(cells).digest()[:8], "big", signed=True)
    return len(rows), format(total % (1 << 64), "x")


def main():
    cp = run.build()
    queries = sorted(workloads.CORPUS)
    sql = json.loads(subprocess.run(
        ["java", "-cp", cp, "perfbench.OracleSql", *queries],
        check=True, capture_output=True, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    pins = {}
    for q in queries:
        rel = con.sql(sql[q])
        n, h = digest(rel.columns, rel.fetchall())
        pins[q] = {"rows": n, "hash": h,
                   "oracle_sql_sha256": hashlib.sha256(sql[q].encode()).hexdigest()}
        print(f"{q}: {n} rows, {h}")
    pins["_source"] = {"duckdb": duckdb.__version__, "data": "data/sf0.1"}
    os.makedirs(os.path.dirname(run.PINS), exist_ok=True)
    with open(run.PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
