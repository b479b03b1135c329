"""DuckDB oracle for the warm-up answers.

For every query the harness wrote `<answers>/<name>/*.parquet` (the
engine's answer) and `<answers>/oracle_sql.json` (the query as DuckDB
SQL over the generated tables). An answer passes when both sides have
the same columns, the same type class per column, and the same rows
once canonicalized the way `tools/check_oracle.py` does it: columns
ordered by name, rows sorted, every cell rendered at full precision
with a type tag, NULL as its own token.
"""
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, canon, canon_type  # noqa: E402


def _canon(rel):
    cols = list(rel.columns)
    types = {c: canon_type(t) for c, t in zip(cols, rel.types)}
    return types, canon(rel.fetchall(), cols)[1]


def verdicts(data_dir, answers_dir):
    """{query name: (passed, reason)} for every query in oracle_sql.json."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(answers_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        got_t, got = _canon(con.sql(f"SELECT * FROM '{answers_dir}/{name}/*.parquet'"))
        want_t, want = _canon(con.sql(sql))
        if got_t != want_t:
            out[name] = (False, f"columns/types {got_t} != {want_t}")
        elif got != want:
            out[name] = (False, f"{len(got)} rows differ from {len(want)} oracle rows")
        else:
            out[name] = (True, f"{len(got)} rows")
    return out
