#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kg-build --seed 1 --seconds 9 --trace 0

Workloads: kg-build, query-suite, serve (see perfbench/README.md).

The first run in a checkout builds the program and the harness from source
with sbt into .bench_build/ (later runs reuse the build while the sources are
unchanged). The harness runs in one JVM; this script adds the DuckDB oracle
check of the query-suite's verify pass and prints the result as the last line
of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics; a traced run also writes its spans to
.bench_build/trace/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("kg-build", "query-suite", "serve")
BUILD = Path(".bench_build")
BENCH_DIR = Path("perfbench")
PROGRAM_SRC = Path("src/main/scala")
ORACLE_CHECK = Path("tools/check_oracles.py")
SF_DIR = BENCH_DIR / "data" / "sf0.01"
JVM_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not Path(home, "jars").is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return str(Path(home, "jars"))


def source_stamp():
    h = hashlib.sha256()
    files = [BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for root in (PROGRAM_SRC, BENCH_DIR / "src"):
        files += sorted(p for p in root.rglob("*.scala") if p.is_file())
    for p in files:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; returns the classpath."""
    stamp_file, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building program and harness with sbt ...")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dgraft.spark.jars={spark_jars()}",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, capture_output=True, text=True,
                           timeout=870)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ".jar" in ln and not ln.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def run_jvm(cp, args, run_dir):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the traced serve run reaches ServeCli's handlers through the JDK's own
    # server provider (graftbench.Handlers)
    exports = ["--add-exports", "jdk.httpserver/sun.net.httpserver=ALL-UNNAMED"]
    cmd = (["java"] + opens + exports +
           ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp.resolve()}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args)
    # the JVM's own stdout is diagnostics only: the result travels by file
    with subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr) as proc:
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness JVM timed out")
    if rc != 0:
        fail(f"harness JVM exited with {rc}")


def check_oracles(verify_dir, expected):
    """DuckDB oracle check of the verify pass (tools/check_oracles.py)."""
    p = subprocess.run([sys.executable, str(ORACLE_CHECK), str(verify_dir), str(SF_DIR)],
                       capture_output=True, text=True, timeout=120)
    m = re.search(r"(\d+) match, (\d+) fail, (\d+) rows-only", p.stdout)
    if not m:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        return False, "oracle check printed no summary"
    n_match, n_fail, n_rows = map(int, m.groups())
    for ln in p.stdout.splitlines():
        if ln.startswith("✗"):
            log(ln)
    ok = n_match == expected and n_fail == 0 and n_rows == 0 and p.returncode == 0
    return ok, f"{n_match} match, {n_fail} fail, {n_rows} rows-only of {expected}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (PROGRAM_SRC / "graft" / "SparkEntry.scala", ORACLE_CHECK,
                 BENCH_DIR / "build.sbt", SF_DIR / "lineitem.parquet"):
        if not need.exists():
            fail(f"{need} not found: run from the root of a graft checkout")
    cp = build()

    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    result_file = run_dir / "result.json"
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--root", str(Path.cwd()), "--sf", str(SF_DIR.resolve()),
                     "--work", str(run_dir.resolve()), "--out", str(result_file.resolve()),
                     "--trace-dir", str((BUILD / "trace").resolve())],
                run_dir)
        res = json.loads(result_file.read_text())
        checks = res.pop("checks", {})
        if "verified" in res:
            ok, summary = check_oracles(run_dir / "verify", res.pop("verified"))
            checks["query-suite.oracles"] = ("ok: " if ok else "FAILED: ") + summary
            res["correct"] = res["correct"] and ok
        for k, v in checks.items():
            log(f"check {k}: {v}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0)


if __name__ == "__main__":
    main()
