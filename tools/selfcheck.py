#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/selfcheck.py [sfdir] [verifydir]

For each query result parquet written by graft.Verify, runs the
corresponding oracle SQL in DuckDB over the same testdata parquet
tables, sorts columns by name and rows by value, and compares cell by
cell (exact for non-floats; floats must match to 1e-9 relative — the
engine rounds all float outputs so anything looser signals a real
mismatch). An oracle DuckDB cannot run (out of memory, say) is reported
and counted as not compared; the run goes on, and exits non-zero, so a
query the oracle could not check never reads as green.

DuckDB runs under a constant cap (4 GB, 2 threads) rather than its
default of 80 % of the box's RAM, so an oracle runs, or does not, the
same way on any machine.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
vdir = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/repo/tmp/verify")

con = duckdb.connect(config={"memory_limit": "4GB", "threads": 2})
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracles = json.loads((vdir / "oracle_sql.json").read_text())

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))

def cells_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)

n_pass = n_fail = n_skip = 0
for name in sorted(p.name for p in vdir.iterdir() if p.is_dir()):
    got_rel = con.execute(f"SELECT * FROM '{vdir}/{name}/*.parquet'")
    gcols = [d[0] for d in got_rel.description]
    grows = got_rel.fetchall()
    if name not in oracles:
        print(f"  [rows-only] {name}: {len(grows)} rows")
        continue
    try:
        exp_rel = con.execute(oracles[name])
        erows = exp_rel.fetchall()
    except duckdb.Error as e:
        print(f"ERROR {name}: oracle did not run: {e}")
        n_skip += 1
        continue
    ecols = [d[0] for d in exp_rel.description]
    etypes = dict(zip(ecols, [str(d[1]) for d in exp_rel.description]))
    gtypes = dict(zip(gcols, [str(d[1]) for d in got_rel.description]))
    gc, gr = norm(grows, gcols)
    ec, er = norm(erows, ecols)
    ok = True
    if gc != ec:
        print(f"FAIL {name}: columns {gc} vs {ec}")
        ok = False
    elif any(gtypes[c] != etypes[c] for c in gc):
        bad = {c: (gtypes[c], etypes[c]) for c in gc if gtypes[c] != etypes[c]}
        print(f"FAIL {name}: column types differ {bad}")
        ok = False
    elif len(gr) != len(er):
        print(f"FAIL {name}: rows {len(gr)} vs {len(er)}")
        ok = False
    else:
        for i, (a, b) in enumerate(zip(gr, er)):
            bad = [(c, x, y) for c, x, y in zip(gc, a, b) if not cells_eq(x, y)]
            if bad:
                print(f"FAIL {name}: row {i} diff {bad[:4]}")
                ok = False
                break
    if ok:
        n_pass += 1
        print(f"  PASS {name} ({len(gr)} rows)")
    else:
        n_fail += 1

# Queries that died inside graft.Verify leave no result dir — count them
# as failures from errors.json so a broken query can never read as green
# by absence.
errp = vdir / "errors.json"
if errp.exists():
    for name, msg in sorted(json.loads(errp.read_text()).items()):
        print(f"FAIL {name}: did not run: {msg}")
        n_fail += 1

print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} not compared")
sys.exit(1 if n_fail + n_skip else 0)
