"""Correctness checks, run once per run after the timed loop.

Query workloads compare each panel query's saved result with its
`SparkEntry.oracleSql` statement run by DuckDB over the same parquet
inputs: same column names, same row count and the same order-insensitive
hash of the rows (columns sorted by name, values stringified by
`canon` of the repo's oracle gate, `tools/oracle_check.py`). The pipeline
check reconciles the pipeline's row counts with the generated input. The
versioned-table check replays the executed op log in DuckDB from the same
base table and compares the final table and the view aggregate.
"""
import glob
import hashlib
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from oracle_check import TABLES, canon  # noqa: E402


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def digest(cols, rows):
    """(column names sorted, row count, hash of sorted canonical rows)."""
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = canon([tuple(r[i] for i in perm) for r in rows])
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return [cols[i] for i in perm], len(rows), h.hexdigest()


def _result(con, path):
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return [d[0] for d in rel.description], rel.fetchall()


def _compare(name, got, want):
    g, w = digest(*got), digest(*want)
    if g[0] != w[0]:
        return [f"{name}: columns {g[0]} != oracle {w[0]}"]
    if g[1] != w[1]:
        return [f"{name}: {g[1]} rows != oracle {w[1]}"]
    if g[2] != w[2]:
        return [f"{name}: row hash differs from the oracle"]
    return []


def check_queries(data_dir, results_dir, names):
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    failures = []
    for name in names:
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            failures.append((name, "no result (the query failed)"))
            continue
        try:
            rel = con.execute(oracles[name])
            want = ([d[0] for d in rel.description], rel.fetchall())
            failures += [(name, m) for m in _compare(name, _result(con, path), want)]
        except Exception as e:  # an oracle or result that cannot be read
            failures.append((name, str(e)))
    return failures


def count_lines(input_dir, days):
    n = 0
    for d in days:
        for f in glob.glob(os.path.join(input_dir, d, "*")):
            if not os.path.basename(f).startswith((".", "_")):
                with open(f, "rb") as fh:
                    n += sum(1 for _ in fh)
    return n


def check_medallion(check):
    generated = count_lines(check["input"], check["days"].split(","))
    bronze, silver, rejects = (int(check[k]) for k in ("bronze", "silver", "rejects"))
    failures = []
    if bronze != generated:
        failures.append(f"bronze {bronze} rows != {generated} generated events")
    if silver + rejects != bronze:
        failures.append(f"silver {silver} + rejects {rejects} != bronze {bronze}")
    return failures


def replay_dml(con, base, ops):
    """Apply the executed (kind, part, name, *args) DML ops to a DuckDB
    copy of the base table."""
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{base}')")
    for o in ops:
        if o[2] == "upsert":
            i, lo, n_upd, fresh, n_ins = o[3:]
            con.execute(
                "CREATE OR REPLACE TEMP TABLE u AS SELECT k AS o_orderkey, "
                "k % 1000 AS o_custkey, 'U' AS o_orderstatus, "
                f"(k * 7919 + {i * 104729}) % 10000000 AS price_cents FROM ("
                f"SELECT range AS k FROM range({lo}, {lo + n_upd}) UNION ALL "
                f"SELECT range AS k FROM range({fresh}, {fresh + n_ins}))")
            con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM u)")
            con.execute("INSERT INTO t SELECT * FROM u")
        elif o[2] == "delete":
            lo, hi = o[3:]
            con.execute(f"DELETE FROM t WHERE o_orderkey >= {lo} AND o_orderkey < {hi} "
                        "AND o_orderkey % 2 = 0")


def check_dml(base, results_dir, ops):
    con = _connect()
    replay_dml(con, base, ops)
    table = con.execute("SELECT * FROM t")
    want_table = ([d[0] for d in table.description], table.fetchall())
    view = con.execute("SELECT o_orderstatus, count(*) AS n_rows, "
                       "sum(price_cents) AS sum_price FROM t GROUP BY 1")
    want_view = ([d[0] for d in view.description], view.fetchall())
    return (_compare("final table", _result(con, os.path.join(results_dir, "final_table")),
                     want_table) +
            _compare("view aggregate", _result(con, os.path.join(results_dir, "final_view")),
                     want_view))
