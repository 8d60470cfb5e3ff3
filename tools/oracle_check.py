#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> \
           [--budget SECONDS] [--json OUT.json]
       python3 tools/oracle_check.py <sfDir> <verifyOutDir> \
           --against <otherVerifyOutDir>

Loads each <name>/ parquet result written by graft.Verify, runs the
matching oracle SQL from oracle_sql.json in DuckDB (tables = the sfDir
parquet files), sorts columns by name, and compares row counts, schemas
(loosely), and values (floats to 1e-9 relative).

Tables may be single files (<sfDir>/<t>.parquet, the driver fixture
layout) or Spark-written directories (<sfDir>/<t>.parquet/part-*.parquet,
the ScaleUp sf1 layout) — both resolve.

--against DIR compares two Verify outputs instead of running the oracles:
every query present in both must have the same column names and types
and the same rows (sorted, exact values, no float tolerance). Every
differing query is listed with the rows found on one side only. Use it
for a default run against a forced-route run of the same code, or for a
parent's run against a change's.

--budget N time-boxes each ORACLE's DuckDB run to N seconds via
connection interrupt; an over-budget oracle is reported SKIP (listed,
not failed) — the sf1-sweep policy from VERDICT r12 #1. --json writes a
CORRECTNESS-shaped artifact.
"""
import json
import os
import sys
import threading
import time

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def table_glob(sf_dir: str, t: str) -> str:
    p = f"{sf_dir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def run_budgeted(con, sql: str, budget: float):
    """Run sql; on budget expiry interrupt the connection.

    Returns (df, None) or (None, 'timeout'). The watchdog interrupt
    surfaces as duckdb.InterruptException."""
    if not budget:
        return con.execute(sql).fetchdf(), None
    fired = threading.Event()

    def watchdog():
        fired.set()
        con.interrupt()

    t = threading.Timer(budget, watchdog)
    t.start()
    try:
        df = con.execute(sql).fetchdf()
        return df, None
    except duckdb.InterruptException:
        return None, "timeout"
    except Exception:
        if fired.is_set():
            return None, "timeout"
        raise
    finally:
        t.cancel()


def fresh_con(sf_dir: str):
    """Per-query connection: an interrupted/heavy oracle cannot leak
    allocations into later queries (the sf1 sweep OOM'd DuckDB after an
    interrupt without this). Bounded memory with disk spill."""
    con = duckdb.connect()
    con.execute("SET memory_limit='32GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_glob(sf_dir, t)}')")
    return con


def main(sf_dir: str, out_dir: str, budget: float = 0.0,
         json_out: str = "", skip_file: str = "") -> None:
    skip_names = set()
    if skip_file:
        skip_names = {l.strip() for l in open(skip_file) if l.strip()}
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    report = {}

    def record(name, status, rows=None, secs=None, err=None):
        report[name] = {"status": status, "rows": rows,
                        "secs": secs, "err": err}

    for name, sql in sorted(oracle.items()):
        if name in skip_names:
            continue
        t0 = time.time()
        con = fresh_con(sf_dir)
        try:
            try:
                df, timed_out = run_budgeted(con, sql, budget)
                if timed_out:
                    print(f"SKIP {name}: oracle exceeded {budget:.0f}s budget")
                    record(name, "skip_budget", secs=round(time.time() - t0, 1))
                    n_skip += 1
                    continue
                expected = normalize(df)
            except Exception as e:
                print(f"FAIL {name}: oracle SQL error: {e}")
                record(name, "fail", err=f"oracle SQL error: {e}")
                n_fail += 1
                continue
            try:
                # same bounded-memory settings as the oracle connection:
                # a huge spark result must spill, not OOM the sweep.
                # closing-in-finally so a read_parquet/fetchdf error can't
                # leak the connection (and its buffers) for the rest of
                # the sweep (r14 ADVICE).
                from contextlib import closing
                with closing(duckdb.connect()) as rcon:
                    rcon.execute("SET memory_limit='32GB'")
                    rcon.execute("SET temp_directory='/tmp/duckdb_spill'")
                    actual = normalize(
                        rcon.execute(
                            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
                        ).fetchdf())
            except Exception as e:
                print(f"FAIL {name}: spark result unreadable: {e}")
                record(name, "fail", err=f"spark result unreadable: {e}")
                n_fail += 1
                continue
            if list(expected.columns) != list(actual.columns):
                print(f"FAIL {name}: columns {list(actual.columns)} vs oracle {list(expected.columns)}")
                record(name, "fail", err="column mismatch")
                n_fail += 1
                continue
            if len(expected) != len(actual):
                print(f"FAIL {name}: rows {len(actual)} vs oracle {len(expected)}")
                record(name, "fail", err=f"rows {len(actual)} vs {len(expected)}")
                n_fail += 1
                continue
            ok = True
            for c in expected.columns:
                e, a = expected[c], actual[c]
                ek, ak = e.dtype.kind, a.dtype.kind
                # The driver hashes values exactly after sorting columns, so a
                # DuckDB HUGEINT->float64 coercion (3 vs 3.0) is a real FAIL:
                # never tolerance-compare across an int/float dtype mismatch.
                if ("f" in (ek, ak)) and ek != ak:
                    print(f"FAIL {name}: col {c}: dtype mismatch spark={a.dtype} "
                          f"oracle={e.dtype} (int-vs-float breaks the driver hash; "
                          f"CAST the oracle sum to BIGINT or round both sides)")
                    ok = False
                    break
                if ek == "f" and ak == "f":
                    import numpy as np
                    ev, av = e.astype(float).values, a.astype(float).values
                    both_nan = np.isnan(ev) & np.isnan(av)
                    # exact, like the driver's hash — both sides must round
                    # identically in the query SQL itself
                    bad = ~((av == ev) | both_nan)
                else:
                    bad = a.astype(str).values != e.astype(str).values
                if bad.any():
                    i = int(bad.argmax())
                    print(f"FAIL {name}: col {c} row {i}: spark={a.iloc[i]!r} oracle={e.iloc[i]!r}")
                    ok = False
                    break
            if ok:
                secs = round(time.time() - t0, 1)
                print(f"PASS {name} ({len(expected)} rows, {secs}s)")
                record(name, "pass", rows=len(expected), secs=secs)
                n_pass += 1
            else:
                record(name, "fail", err="value/dtype mismatch (see log)")
                n_fail += 1
        finally:
            con.close()
    # surface builder-side query failures recorded by graft.Verify —
    # a query that threw has no result dir, so without this it would
    # silently vanish from the gate (the round-6 pq_scan failure mode)
    fpath = f"{out_dir}/_failures.json"
    if os.path.exists(fpath):
        failures = json.load(open(fpath))
        for name, err in sorted(failures.items()):
            print(f"FAIL {name}: query threw in Verify: {err}")
            record(name, "fail", err=f"threw in Verify: {err}")
            n_fail += 1
    if json_out:
        json.dump({"sf_dir": sf_dir, "budget_sec": budget,
                   "passed": n_pass, "failed": n_fail,
                   "skipped_budget": n_skip, "queries": report},
                  open(json_out, "w"), indent=1)
    print(f"\n{n_pass} passed, {n_fail} failed, {n_skip} skipped (budget)")
    sys.exit(1 if n_fail else 0)


def result_dirs(out_dir: str) -> set:
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(f"{out_dir}/{n}") and
            any(f.endswith(".parquet") for f in os.listdir(f"{out_dir}/{n}"))}


def against(out_dir: str, other_dir: str, shown: int = 5) -> None:
    """Row-identity of every query present in both Verify outputs."""
    mine, theirs = result_dirs(out_dir), result_dirs(other_dir)
    for name in sorted(mine ^ theirs):
        side = out_dir if name in mine else other_dir
        print(f"ONLY {name}: present in {side} only (not compared)")
    n_same = n_diff = 0
    con = duckdb.connect()
    for name in sorted(mine & theirs):
        a = f"read_parquet('{out_dir}/{name}/*.parquet')"
        b = f"read_parquet('{other_dir}/{name}/*.parquet')"
        schema_a = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
        schema_b = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
        cols_a = [(c[0], c[1]) for c in schema_a]
        cols_b = [(c[0], c[1]) for c in schema_b]
        if cols_a != cols_b:
            print(f"DIFF {name}: columns {cols_a} vs {cols_b}")
            n_diff += 1
            continue
        # EXCEPT ALL both ways: multiset difference, NaN equal to NaN
        only_a = con.execute(
            f"SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b} ORDER BY ALL").fetchall()
        only_b = con.execute(
            f"SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a} ORDER BY ALL").fetchall()
        if only_a or only_b:
            print(f"DIFF {name}: {len(only_a)} rows only in {out_dir}, "
                  f"{len(only_b)} rows only in {other_dir}")
            for r in only_a[:shown]:
                print(f"  < {r}")
            for r in only_b[:shown]:
                print(f"  > {r}")
            n_diff += 1
        else:
            n_same += 1
    con.close()
    print(f"\n{n_same} identical, {n_diff} different, "
          f"{len(mine ^ theirs)} not in both")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(
        description="DuckDB-oracle correctness gate (local emulation)")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--budget", type=float, default=0.0,
                    help="per-oracle seconds before SKIP (0 = unbounded)")
    ap.add_argument("--json", default="",
                    help="write a CORRECTNESS-shaped artifact here")
    ap.add_argument("--skip-file", default="",
                    help="file of query names to skip (resume support)")
    ap.add_argument("--against", default="",
                    help="compare with this Verify output dir instead of "
                         "running the oracles: row-identical or fail")
    args = ap.parse_args()
    if args.against:
        against(args.out_dir, args.against)
    main(args.sf_dir, args.out_dir, args.budget, args.json,
         args.skip_file)
