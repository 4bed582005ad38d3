#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate (dev tool only; the
shipped library is pure Scala/Spark). Reads the Verify.scala output dir,
runs each oracle SQL in DuckDB against the same parquet tables, and
compares row count / schema / values (exact for ints+strings, exact for
floats too since both sides round order-dependent aggregates).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Verify also writes <verifyOutDir>/_status.json ("ok", or the error class
and message per query); a query that failed in Verify is reported here
by name with that error, and any failed query — oracled or rows-only —
makes the exit status nonzero.

Every oracle runs under a hard per-query time budget (ORACLE_BUDGET_S,
default 30 s at sf0.01). A query that exceeds it is interrupted and
FAILED LOUDLY by name. This exists because an oracle that is merely
slow locally can be unrunnable under the round driver (round 9:
the unhinted q109 BPE oracle hung DuckDB >20 min and zeroed the whole
round's CORRECTNESS artifact). An oracle that trips this guard must be
rewritten, not waited on.
"""
import json
import os
import sys
import threading
import time

import duckdb
import pandas as pd

ORACLE_BUDGET_S = float(os.environ.get("ORACLE_BUDGET_S", "30"))


def run_with_budget(con, sql):
    """Run `sql`; if it exceeds ORACLE_BUDGET_S, interrupt the
    connection and raise TimeoutError. Returns the result DataFrame.
    If the worker thread survives the interrupt, the connection must
    NOT be reused (two threads on one DuckDB connection is undefined
    behavior) — we signal that by raising a TimeoutError whose
    .reconnect attribute is True so main() reopens a fresh one."""
    result = {}

    def work():
        try:
            result["df"] = con.sql(sql).df()
        except Exception as e:  # includes InterruptException
            result["err"] = e

    t = threading.Thread(target=work, daemon=True)
    start = time.monotonic()
    t.start()
    t.join(ORACLE_BUDGET_S)
    if t.is_alive():
        con.interrupt()
        t.join(10)
        err = TimeoutError(
            f"oracle exceeded {ORACLE_BUDGET_S:.0f}s budget "
            f"({time.monotonic() - start:.1f}s elapsed) — rewrite it")
        err.reconnect = t.is_alive()
        raise err
    if "err" in result:
        raise result["err"]
    return result["df"]

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """EXACTLY as strict as the driver's checker: no normalization of
    array cells. A query whose output contains list/ndarray cells will
    crash sort_values with 'unhashable type' at the driver, so it must
    crash here too (round 10 lesson: a local-only tuple conversion let
    q107/q114 pass locally and fail at the driver). Digest arrays to
    md5 scalars in the query itself instead."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def verify_errors(out_dir: str) -> dict:
    """{query: "<error class>: <message>"} for every query Verify's
    _status.json reports as failed (empty if the file is absent)."""
    try:
        status = json.load(open(f"{out_dir}/_status.json"))
    except FileNotFoundError:
        return {}
    return {name: f"{s['error']}: {s['message']}"
            for name, s in status.items() if s != "ok"}


def main(sf_dir: str, out_dir: str) -> int:
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    errors = verify_errors(out_dir)
    failures = 0
    for name, sql in sorted(oracle.items()):
        if name in errors:
            print(f"FAIL {name}: verify error {errors[name]}")
            failures += 1
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            failures += 1
            continue
        try:
            t0 = time.monotonic()
            exp = run_with_budget(con, sql)
            oracle_s = time.monotonic() - t0
        except TimeoutError as e:
            print(f"FAIL {name}: ORACLE BUDGET EXCEEDED: {e}")
            failures += 1
            if getattr(e, "reconnect", False):
                # worker thread still owns the old connection — abandon
                # it and reopen so later queries don't share it
                con = connect(sf_dir)
            continue
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            failures += 1
            continue
        try:
            g, x = norm(got), norm(exp)
        except Exception as e:
            # e.g. 'unhashable type' from array cells hitting
            # sort_values — the same per-query failure the driver
            # records; later queries must still run
            print(f"FAIL {name}: normalize/sort error: {e}")
            failures += 1
            continue
        if list(g.columns) != list(x.columns):
            print(f"FAIL {name}: columns spark={list(g.columns)} oracle={list(x.columns)}")
            failures += 1
            continue
        if len(g) != len(x):
            print(f"FAIL {name}: rows spark={len(g)} oracle={len(x)}")
            failures += 1
            continue
        bad = []
        for c in g.columns:
            a, b = g[c], x[c]
            # DTYPE-FAITHFUL to the driver (round-12 lesson: q126's
            # oracle produced a DuckDB HUGEINT that pandas renders as
            # float64 while Spark emitted int64 — values equal, driver
            # hash of the renderings mismatched, and the old
            # astype(float) coercion here hid it). The driver hashes
            # value RENDERINGS, so a float-vs-int kind divergence is a
            # guaranteed driver fail and must fail here too. Integer
            # widths (int32 vs int64) render identically → same kind.
            ka, kb = a.dtype.kind, b.dtype.kind
            if a.dtype != b.dtype:
                print(f"  DTYPE {name}.{c}: spark={a.dtype} oracle={b.dtype}"
                      + ("" if ka == kb or {ka, kb} <= {"i", "u"}
                         else "  << kind mismatch: driver hash WILL differ"))
            if ka != kb and not {ka, kb} <= {"i", "u"}:
                bad.append(f"{c} (dtype kind mismatch spark={a.dtype} "
                           f"oracle={b.dtype} — cast the oracle, e.g. "
                           f"CAST(... AS BIGINT) for HUGEINT sums)")
                continue
            try:
                if ka == "f":
                    eq = ((a.astype(float) == b.astype(float)) |
                          (a.isna() & b.isna()))
                else:
                    eq = (a == b) | (a.isna() & b.isna())
                if not eq.all():
                    i = int((~eq).idxmax())
                    bad.append(f"{c} (e.g. row {i}: {a[i]!r} vs {b[i]!r}, "
                               f"{int((~eq).sum())} diffs)")
            except Exception as e:
                bad.append(f"{c} (compare error {e})")
        if bad:
            print(f"FAIL {name}: value mismatch: {'; '.join(bad)}")
            failures += 1
        else:
            slow = " [SLOW ORACLE]" if oracle_s > ORACLE_BUDGET_S / 3 else ""
            print(f"PASS {name} ({len(g)} rows, oracle {oracle_s:.2f}s){slow}")
    rows_only = sorted(set(errors) - set(oracle))
    for name in rows_only:
        print(f"FAIL {name} (rows-only): verify error {errors[name]}")
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries pass")
    if rows_only:
        print(f"{len(rows_only)} rows-only queries failed in Verify")
    return 1 if failures or rows_only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
