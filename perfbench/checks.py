"""Correctness checks, run after the program has exited.

Every answer is recomputed with DuckDB straight from the generated
parquet, bypassing SfcTable, ZoneMap and Upserter: range queries run on
the source table, upsert probes and the final table on a window-dedup
model of the batches (latest l_commitdate wins, a later batch wins
ties), and curation queries through their oracle SQL. A query without an
oracle is pinned to the first pass's answer.
"""
import glob
import hashlib
import json
import os
import time
from decimal import Decimal

import duckdb

KEYS = ("l_orderkey", "l_linenumber")


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _sort_key(row):
    return tuple((0, "") if v is None else (1, v) if isinstance(v, float) else (2, str(v))
                 for v in row)


def canonical(columns, rows):
    """Columns sorted by name, rows sorted, values normalised."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)
    return cols, out


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if a != a and b != b:  # both NaN
            return True
        tol = 1e-9 * abs(a) + (0.011 if abs(a) > 10 else 2e-6)
        return abs(a - b) <= tol
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same(expected, actual):
    """(ok, message): two (columns, rows) results agree, order-insensitive,
    floats within the repository's oracle tolerance."""
    ec, er = canonical(*expected)
    ac, ar = canonical(*actual)
    if ec != ac:
        return False, f"columns {ac} != {ec}"
    if len(er) != len(ar):
        return False, f"{len(ar)} rows != {len(er)}"
    for i, (x, y) in enumerate(zip(er, ar)):
        if not all(_close(a, b) for a, b in zip(x, y)):
            return False, f"row {i}: {y} != {x}"
    return True, ""


def digest(columns, rows):
    cols, out = canonical(columns, rows)
    return hashlib.sha256(json.dumps([cols, out], default=str).encode()).hexdigest()[:16]


def _duck(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _connect(data_dir):
    con = duckdb.connect()
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def check_scan(run, data_dir):
    """Each range query against the same SQL on the source table."""
    con = _connect(data_dir)
    cache, bad = {}, {}
    for op in run["ops"]:
        if op["error"] is not None:
            continue
        sql = op["sql"]
        if sql not in cache:
            cache[sql] = _duck(con, sql.replace("{{tbl}}", "lineitem"))
        ok, msg = same(cache[sql], (op["columns"], op["rows"]))
        if not ok:
            bad[op["id"]] = msg
    return bad


def _model_sql(upto):
    """Live rows after batches 0..upto: the latest l_commitdate per key,
    a later batch winning ties (the incoming row wins)."""
    return (f"SELECT * EXCLUDE (__b, __rn) FROM (SELECT *, row_number() OVER ("
            f"PARTITION BY {', '.join(KEYS)} ORDER BY l_commitdate DESC, __b DESC) AS __rn "
            f"FROM all_rows WHERE __b <= {upto}) WHERE __rn = 1")


def check_upsert(run, data_dir, out_dir):
    """Probes against the model after their batch; the final table row
    for row against the model after the last batch that ran."""
    con = duckdb.connect()
    batches = sorted(glob.glob(f"{data_dir}/batches/*.parquet"))
    parts = [f"SELECT *, -1 AS __b FROM read_parquet('{data_dir}/lineitem.parquet')"]
    parts += [f"SELECT *, {i} AS __b FROM read_parquet('{b}')" for i, b in enumerate(batches)]
    con.execute("CREATE TABLE all_rows AS " + " UNION ALL ".join(parts))
    bad = {}
    upserts = [op for op in run["ops"] if op["kind"] == "upsert"]
    if any(op["error"] is not None for op in upserts):
        # a failed commit leaves no model to compare against
        return ({op["id"]: "upsert failed" for op in run["ops"] if op["kind"] != "upsert"},
                {"final_table_ok": False})
    cache = {}
    for op in run["ops"]:
        if op["kind"] != "probe" or op["error"] is not None:
            continue
        key = (op["batch"], op["sql"])
        if key not in cache:
            con.execute(f"CREATE OR REPLACE VIEW model AS {_model_sql(op['batch'])}")
            cache[key] = _duck(con, op["sql"].replace("{{tbl}}", "model"))
        ok, msg = same(cache[key], (op["columns"], op["rows"]))
        if not ok:
            bad[op["id"]] = msg
    last = max((op["batch"] for op in upserts), default=-1)
    con.execute(f"CREATE OR REPLACE VIEW model AS {_model_sql(last)}")
    cols = ", ".join(c for c in _duck(con, "SELECT * FROM model LIMIT 0")[0])
    final = f"SELECT {cols} FROM read_parquet('{out_dir}/final_table/*.parquet')"
    extra = con.execute(f"SELECT count(*) FROM ({final} EXCEPT ALL SELECT {cols} FROM model)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM model EXCEPT ALL {final})").fetchone()[0]
    final_ok = extra == 0 and missing == 0
    return bad, {"final_table_ok": final_ok, "final_extra_rows": extra,
                 "final_missing_rows": missing}


def check_curation(run, data_dir):
    """Each query's answer against its oracle SQL; without one, against
    the first pass's answer."""
    con = _connect(data_dir)
    oracles = run["layer"].get("oracle_sql", {})
    expected, bad, hashes, oracle_s = {}, {}, {}, {}
    for op in run["ops"]:
        if op["error"] is not None:
            continue
        name = op["name"]
        got = (op["columns"], op["rows"])
        hashes.setdefault(name, set()).add(digest(*got))
        if name not in expected:
            t0 = time.time()
            expected[name] = _duck(con, oracles[name]) if name in oracles else got
            oracle_s[name] = time.time() - t0
        ok, msg = same(expected[name], got)
        if not ok:
            bad[op["id"]] = msg
    return bad, {"result_hashes": {n: sorted(h) for n, h in hashes.items()},
                 "oracle_s": oracle_s}
