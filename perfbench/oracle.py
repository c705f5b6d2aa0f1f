#!/usr/bin/env python3
"""DuckDB oracle check of one benchmark run.

Each query's output (written by the harness's warm-up pass) is checked
against the result of its `SparkEntry.oracleSql` over the run's own input
tables: columns matched by name, rows compared as sorted multisets.

 - Live check: DuckDB runs the oracle SQL; floats agree to 1e-9 relative
   (both engines round computed doubles to at most 6 places, so this only
   absorbs representation noise).
 - Pinned check: for the fixed `relational` and `labelprop` inputs the
   oracle result's digest is pinned in oracle_pins.json (q12's oracle alone
   takes about 45 s in DuckDB). A pin is used only while both the oracle
   SQL and the input files hash as they did when it was made; otherwise
   the live check runs.

Re-pin after a deliberate change to the oracle SQL or the fixed inputs,
from run directories whose outputs pass the live check:

    python3 perfbench/oracle.py pin .bench_build/perfbench-run/relational \\
        .bench_build/perfbench-run/labelprop
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "oracle_pins.json")
REL_TOL = 1e-9


def _sort_key(row):
    # Floats are keyed at 9 significant digits, so two values equal within
    # REL_TOL cannot sort into different positions and fake a mismatch.
    return tuple((x is None, f"{x:.9g}" if isinstance(x, float) else str(x)) for x in row)


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    return a == b


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=_sort_key)


def _sha(b):
    return hashlib.sha256(b).hexdigest()


def digest(cols, rows):
    canon = [[None if x is None else f"{x:.12g}" if isinstance(x, float) else str(x)
              for x in r] for r in rows]
    return _sha(json.dumps([cols, canon]).encode())


def inputs_id(data_dir):
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _diff(want_cols, want, got_cols, got):
    """None if `got` equals the oracle's result `want`, else a one-line reason."""
    if want_cols != got_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    if len(want) != len(got):
        return f"{len(got)} rows != oracle {len(want)}"
    bad = next((i for i, (w, g) in enumerate(zip(want, got))
                if not all(_eq(x, y) for x, y in zip(w, g))), None)
    return None if bad is None else f"row {bad}: {got[bad]} != oracle {want[bad]}"


def compare(data_dir, out_dir, queries):
    """Return {query: None if its output matches the oracle, else a reason}."""
    con = _connect(data_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    inputs = inputs_id(data_dir)
    verdict = {}
    for q in queries:
        got_dir = os.path.join(out_dir, "outputs", q)
        if q not in oracle:
            verdict[q] = "no oracle SQL"
            continue
        if not glob.glob(os.path.join(got_dir, "*.parquet")):
            verdict[q] = "no output written"
            continue
        try:
            got_cols, got = _rows(con, f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
            pin = pins.get(q)
            if pin and pin["sql_sha256"] == _sha(oracle[q].encode()) and pin["inputs"] == inputs:
                verdict[q] = (None if digest(got_cols, got) == pin["digest"]
                              else "output digest differs from the pinned oracle result")
            else:
                verdict[q] = _diff(*_rows(con, oracle[q]), got_cols, got)
        except duckdb.Error as e:
            verdict[q] = f"oracle error: {e}".splitlines()[0]
    return verdict


def pin(run_dirs):
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    for run in run_dirs:
        data, out = os.path.join(run, "data"), os.path.join(run, "out")
        con = _connect(data)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        for q, sql in sorted(oracle.items()):
            got_cols, got = _rows(con, f"SELECT * FROM read_parquet('{out}/outputs/{q}/*.parquet')")
            want_cols, want = _rows(con, sql)
            reason = _diff(want_cols, want, got_cols, got)
            if reason is None and digest(got_cols, got) != digest(want_cols, want):
                reason = "matches within tolerance but not digit for digit"
            if reason:
                print(f"{q}: not pinned: {reason}")
                continue
            pins[q] = {"sql_sha256": _sha(sql.encode()), "inputs": inputs_id(data),
                       "rows": len(want), "digest": digest(want_cols, want)}
            print(f"{q}: pinned ({len(want)} rows)")
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) < 3 or sys.argv[1] != "pin":
        sys.exit(__doc__)
    pin(sys.argv[2:])
