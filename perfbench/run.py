#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of the repository. The first run builds the engine
and the harness with sbt into .bench_build/ (without editing build.sbt)
and reuses the build while the sources are unchanged. Each run gets a
private java.io.tmpdir and spark.local.dir under .bench_build/runs/,
removed when the run ends. The last line of stdout is the result JSON;
with --trace 1 the run's spans are written to .bench_build/traces/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
DATA = HERE / "data"
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens
# (the list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "scala"):
        files += sorted(p for p in base.rglob("*") if p.suffix in (".scala", ".java"))
    return [f for f in files if f.is_file()]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; return (exit code, stdout).
    The whole group is killed, and waited for, when the limit passes or
    this process is interrupted or terminated.
    """
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        if not isinstance(e, subprocess.TimeoutExpired):
            raise
        print(f"perfbench: {cmd[0]} exceeded {limit_s:.0f} s and was stopped", file=sys.stderr)
        return 124, out
    return p.returncode, out


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no build.sbt and src/main/scala here: run from the root of the repository")
    if not (DATA / "sf0.1").is_dir() or not (DATA / "sf0.001").is_dir():
        fail(f"benchmark data missing under {DATA}")
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    want = stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = os.environ.copy()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set target := baseDirectory.value / ".bench_build" / "perfbench" / "target"',
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "scala"',
           "export Runtime / fullClasspath"]
    t0 = time.time()
    code, out = run_group(cmd, 840, env=env, stderr=subprocess.STDOUT)
    (BUILD / "build.log").write_text(out)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if code != 0 or cp is None:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (exit {code}); log in {BUILD / 'build.log'}", 1)
    cp_file.write_text(cp + "\n")
    stamp_file.write_text(want)
    print(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


def driver_mem():
    """Driver heap: SPARK_DRIVER_MEM, else half of RAM clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(cp, main, args, run_dir, limit_s):
    """Run `main` in a fresh JVM; return (exit code, stdout lines, stderr tail)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # The harness forces a full collection after every call to read the
    # live heap; MaxHeapFreeRatio=100 stops those collections from
    # shrinking the heap, so the next call runs in the heap it would have.
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-XX:MaxHeapFreeRatio=100",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args)
    # Spark prefers these variables over spark.local.dir
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(run_dir / "stderr.log", "w") as err:
        code, out = run_group(cmd, limit_s, env=env, stderr=err)
    tail = "\n".join((run_dir / "stderr.log").read_text().splitlines()[-30:])
    return code, out.splitlines(), tail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["dashboard", "curation", "streaming"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    cp = build()
    t0 = time.time()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    run_dir = BUILD / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        if a.selftest:
            code, out, tail = java(cp, "perfbench.SelfTest", [], run_dir, RUN_LIMIT_S)
            print("\n".join(out))
            if code != 0:
                print(tail, file=sys.stderr)
            sys.exit(code)
        spans = ROOT / ".bench_build" / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(DATA), "--pins", str(HERE / "pins.json"),
                "--cores", str(cores()), "--tmp", str(run_dir / "tmp"),
                "--local-dir", str(run_dir / "local"), "--spans", str(spans)]
        code, out, tail = java(cp, "perfbench.Main", args, run_dir, RUN_LIMIT_S - (time.time() - t0))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    tag = "PERFBENCH_RESULT "
    result = next((l[len(tag):] for l in reversed(out) if l.startswith(tag)), None)
    for line in out:
        if not line.startswith(tag):
            print(line)
    if code != 0 or result is None:
        print(tail, file=sys.stderr)
        fail(f"run failed (exit {code})", 1)
    print(result)


if __name__ == "__main__":
    main()
