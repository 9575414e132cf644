#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes each oracle SQL in
DuckDB over the same parquet tables and compares: schema (column names),
row count, and exact values (columns sorted by name, rows in result
order). Reports per-query PASS/FAIL with first-diff detail.

Usage: python3 tools/check_correctness.py [sfDir] [outDir] [--skip-verify]
         [--only q_a,q_b]   # local iteration: verify+check only these
       python3 tools/check_correctness.py -h | --help

Verify runs in the checkout this script lives in.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]


def usage_exit(code):
    (sys.stdout if code == 0 else sys.stderr).write(__doc__)
    sys.exit(code)


ONLY = None
SKIP_VERIFY = False
ARGS = []
_argv = iter(sys.argv[1:])
for a in _argv:
    if a in ("-h", "--help"):
        usage_exit(0)
    elif a == "--skip-verify":
        SKIP_VERIFY = True
    elif a == "--only":
        names = next(_argv, None)
        if names is None:
            usage_exit(2)
        ONLY = set(names.split(","))
    elif a.startswith("-") or len(ARGS) == 2:
        usage_exit(2)
    else:
        ARGS.append(a)
SF_DIR = ARGS[0] if len(ARGS) > 0 else "/root/testdata/sf0.01"
OUT_DIR = Path(ARGS[1] if len(ARGS) > 1 else "/tmp/graft_verify")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    import subprocess
    names = f" {','.join(sorted(ONLY))}" if ONLY else ""
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT_DIR}{names}']
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(1)


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def main():
    if not SKIP_VERIFY:
        run_verify()
    oracle = json.loads((OUT_DIR / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    n_pass = n_fail = 0
    for name in sorted(n for n in oracle if ONLY is None or n in ONLY):
        sql = oracle[name]
        res_dir = OUT_DIR / name
        files = list(res_dir.glob("*.parquet")) if res_dir.exists() else []
        if not files:
            print(f"FAIL {name}: no spark result written")
            n_fail += 1
            continue
        try:
            got = pq.read_table(files[0])
        except Exception as e:
            print(f"FAIL {name}: unreadable spark result: {e}")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        g_cols, w_cols = sorted(got.column_names), sorted(want.column_names)
        if g_cols != w_cols:
            print(f"FAIL {name}: columns {g_cols} vs oracle {w_cols}")
            n_fail += 1
            continue
        if got.num_rows != want.num_rows:
            print(f"FAIL {name}: rows {got.num_rows} vs oracle {want.num_rows}")
            n_fail += 1
            continue
        got_rows = [[norm_cell(c) for c in r]
                    for r in zip(*[got.column(c).to_pylist() for c in g_cols])]
        want_rows = [[norm_cell(c) for c in r]
                     for r in zip(*[want.column(c).to_pylist() for c in w_cols])]
        diff = None
        for i, (g, w) in enumerate(zip(got_rows, want_rows)):
            if g != w:
                diff = (i, g, w)
                break
        if diff:
            i, g, w = diff
            print(f"FAIL {name}: first diff at row {i}:")
            print(f"  cols : {g_cols}")
            print(f"  spark: {g}")
            print(f"  duckdb: {w}")
            n_fail += 1
        else:
            print(f"PASS {name} ({got.num_rows} rows)")
            n_pass += 1
    rows_only = [d.name for d in OUT_DIR.iterdir()
                 if d.is_dir() and d.name not in oracle]
    for name in sorted(rows_only):
        files = list((OUT_DIR / name).glob("*.parquet"))
        n = pq.read_table(files[0]).num_rows if files else -1
        print(f"ROWS {name}: {n} rows (no oracle)")
    print(f"\n{n_pass} pass / {n_fail} fail / {len(rows_only)} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
