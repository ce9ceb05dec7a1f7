#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, one JVM per run.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--smoke] [--record] [--expected DIR]

Workloads: sf001_short, x10_scan, schema_evolve (see
perfbench/README.md). The first run in a checkout builds the library and
the benchmark with sbt (offline) and the ten-fold replica of the base
tables; later runs reuse them until a source file changes. Everything
the benchmark writes goes under .bench_build/ in the checkout.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer metrics. The exit code is 0 only when a
result was printed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
WORK = ROOT / ".bench_build"
BASE = BENCH / "data" / "sf0.01"
SMOKE_BASE = BENCH / "data" / "sf0.001"
WORKLOADS = ("sf001_short", "x10_scan", "schema_evolve")
# A fixed heap with a fixed young generation: the resident set then
# grows only with what the program keeps, not with GC sizing decisions.
HEAP_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build and the replica depend on, in a fixed order."""
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "data"]
    single = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files = [f for f in single if f.is_file()]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    return env


def java_cmd(args):
    lines = (WORK / "launch.txt").read_text().splitlines()
    cp, opts = lines[0], [l for l in lines[1:] if l]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java"] + HEAP_OPTS + [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
             f"-Dspark.local.dir={tmp}"] + opts +
            ["-cp", cp, "perfbench.Main"] + args)


def java_env():
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(WORK / "tmp")
    return env


def run_jvm(args, capture):
    """Runs the benchmark JVM; returns its stdout lines when captured."""
    proc = subprocess.Popen(java_cmd(args), cwd=ROOT, env=java_env(),
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was stopped")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    return (out or "").splitlines()


def replica_dir(base):
    return WORK / "data" / f"{base.name}-x10"


def prepare_replica(base):
    out = replica_dir(base)
    if (out / "_done").is_file():
        return
    shutil.rmtree(out, ignore_errors=True)
    log(f"building the ten-fold replica of {base.name}")
    run_jvm(["--prepare", "--data", str(base), "--x10", str(out)], capture=False)
    (out / "_done").write_text("ok\n")


def build():
    """Compiles library and benchmark unless nothing changed since."""
    stamp = WORK / "fingerprint"
    fp = fingerprint()
    if stamp.is_file() and stamp.read_text() == fp and (WORK / "launch.txt").is_file():
        return
    log("building the library and the benchmark with sbt")
    shutil.rmtree(WORK / "data", ignore_errors=True)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if r.returncode != 0:
        fail(f"sbt build failed with code {r.returncode}")
    WORK.mkdir(parents=True, exist_ok=True)
    shutil.copyfile(BENCH / "target" / "launch.txt", WORK / "launch.txt")
    stamp.write_text(fp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, 10^2-field schemas), three operations")
    ap.add_argument("--record", action="store_true",
                    help="also write the digests seen and query dumps under .bench_build/record")
    ap.add_argument("--expected", default=str(BENCH / "expected"),
                    help="directory of expected query digests")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no graft sources here: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")
    WORK.mkdir(parents=True, exist_ok=True)
    build()
    base = SMOKE_BASE if a.smoke else BASE
    if a.workload == "x10_scan":
        prepare_replica(base)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(base), "--x10", str(replica_dir(base)),
            "--work", str(WORK / "run" / a.workload), "--expected", a.expected]
    if a.smoke:
        args.append("--smoke")
    if a.record:
        args.append("--record")
    lines = run_jvm(args, capture=True)
    result = [l for l in lines if l.startswith('{"correct"')]
    if not result:
        fail("the benchmark JVM printed no result")
    for l in lines:
        if l is not result[-1]:
            print(l)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
