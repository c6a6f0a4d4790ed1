#!/usr/bin/env python3
"""Re-pin the expected results the benchmark checks every call against.

    python3 perfbench/pin.py

Run from the root of the repository. Runs every workload query once,
serially (local[1]), on perfbench/data/sf0.1 and writes each query's
row count and digest to perfbench/pins.json. The oracle-backed queries'
pinned results are then compared with DuckDB by tools/selfcheck.py; its
report is kept as perfbench/oracle_check.txt. DuckDB runs with a memory
limit and spills to .bench_build/. Exits non-zero when the compare fails.
"""
import shutil
import subprocess
import sys
import time

import run

# tools/selfcheck.py unchanged, with every DuckDB connection it opens
# bounded in memory and threads
SELFCHECK = """
import runpy, sys, duckdb
connect = duckdb.connect
def bounded(*a, **k):
    con = connect(*a, **k)
    con.execute("SET memory_limit = '3GB'")
    con.execute("SET threads = 2")
    con.execute("SET temp_directory = '%s'")
    return con
duckdb.connect = bounded
sys.argv = ["tools/selfcheck.py"] + sys.argv[1:]
runpy.run_path("tools/selfcheck.py", run_name="__main__")
"""


def main():
    out = run.BUILD / "pin"
    cp = run.build()
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    t0 = time.time()
    code, lines, tail = run.java(cp, "perfbench.Pin",
                                 [str(run.DATA / "sf0.1"), str(out), str(run.HERE / "pins.json")],
                                 out, 3600)
    print("\n".join(lines))
    if code != 0:
        print(tail, file=sys.stderr)
        run.fail(f"pinning failed (exit {code})", 1)
    print(f"pinned in {time.time() - t0:.0f} s")
    import duckdb
    # one selfcheck process per query, so a query whose oracle DuckDB
    # cannot run within the memory limit is reported and the rest still run
    results = out / "results"
    oracle_sql = (results / "oracle_sql.json").read_text()
    report, failed = [], 0
    for q in sorted(p.name for p in results.iterdir() if p.is_dir()):
        one = out / "check" / q
        shutil.rmtree(one, ignore_errors=True)
        shutil.copytree(results / q, one / q)
        (one / "oracle_sql.json").write_text(oracle_sql)
        spill = out / "duckdb_spill"
        try:
            check = subprocess.run([sys.executable, "-c", SELFCHECK % spill, str(run.DATA / "sf0.1"),
                                    str(one)], cwd=run.ROOT, stdout=subprocess.PIPE,
                                   stderr=subprocess.STDOUT, text=True, timeout=600)
            lines = check.stdout.splitlines()
            verdict = next((l.strip() for l in lines if q in l and ("PASS" in l or "FAIL" in l or "rows-only" in l)), None)
            if verdict is None:
                err = next((l for l in reversed(lines) if "Error" in l or "Exception" in l), "no verdict")
                verdict = f"NOT COMPARED {q}: DuckDB could not run the oracle: {err.strip()}"
            elif check.returncode != 0:
                failed += 1
        except subprocess.TimeoutExpired:
            verdict = f"NOT COMPARED {q}: DuckDB oracle ran past 600 s"
        shutil.rmtree(spill, ignore_errors=True)
        shutil.rmtree(one, ignore_errors=True)
        print(verdict, flush=True)
        report.append(verdict)
    passed = sum(l.startswith("PASS") for l in report)
    skipped = sum(l.startswith("NOT COMPARED") for l in report)
    summary = f"{passed} pass, {failed} fail, {skipped} not compared"
    (run.HERE / "oracle_check.txt").write_text(
        f"# tools/selfcheck.py compare of the pinned sf0.1 results with DuckDB {duckdb.__version__}\n"
        "# (one query per process; DuckDB memory_limit 3GB, threads 2)\n" +
        "\n".join(report) + f"\n\n{summary}\n")
    print(summary)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
