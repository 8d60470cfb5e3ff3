"""DuckDB oracle checks for responses the service benchmark kept.

Each check carries the operator's oracle SQL, the corpus directory it
was served from, an upper bound on document ids (the corpus as it stood
when the response was served) and the rows the program returned. The
SQL runs in DuckDB on the same files; rows must match in order, floats
to a relative 1e-9.
"""
import json
import math
import os
from decimal import Decimal

TABLES = ("documents", "embeddings", "events")
NO_BOUND = 2 ** 62


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _views(con, check):
    for t in TABLES:
        p = os.path.join(check["dir"], f"{t}.parquet")
        if os.path.isdir(p):  # rewritten by the program: a part-file dir
            p = os.path.join(p, "*.parquet")
        elif not os.path.isfile(p):
            con.execute(f"DROP VIEW IF EXISTS {t}")
            continue
        where = ""
        if t == "documents" and check["doc_bound"] < NO_BOUND:
            where = f" WHERE doc_id < {int(check['doc_bound'])}"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{p}'){where}")


def compare(check, cols, rows):
    """Returns None when the program's rows match the oracle's, else why."""
    got = check["rows"]
    if sorted(cols) != sorted(check["columns"]):
        return f"columns {check['columns']} vs oracle {cols}"
    if len(rows) != len(got):
        return f"{len(got)} rows vs oracle {len(rows)}"
    for i, (want, have) in enumerate(zip(rows, got)):
        for c, v in zip(cols, want):
            if not _same(have.get(c), v):
                return f"row {i} col {c}: {have.get(c)!r} vs oracle {v!r}"
    return None


def run(checks, scratch):
    """Runs every check; returns a list of (check, error-or-None)."""
    import duckdb
    os.makedirs(scratch, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{scratch}'")
    out = []
    try:
        for c in checks:
            try:
                _views(con, c)
                cur = con.execute(c["sql"])
                cols = [d[0] for d in cur.description]
                out.append((c, compare(c, cols, cur.fetchall())))
            except Exception as e:  # a failing oracle is a failed check
                out.append((c, f"oracle error: {e}"))
    finally:
        con.close()
    return out
