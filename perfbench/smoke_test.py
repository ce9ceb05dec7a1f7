#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

Usage, from the root of a graft checkout:  python3 perfbench/smoke_test.py

Checks, with --smoke (sf0.001 tables, 10^2-field schemas, three
operations per workload):
  1. every workload prints every end-to-end metric (--trace 0) and every
     per-layer metric (--trace 1) of BENCHMARK.json, with its unit, and
     reports its outputs correct; a traced run's timed span is its
     passes and little else, so no wait for lost listener events hides
     in it;
  2. a deliberately wrong expected digest is reported as a failure, so
     the correctness gate can fail;
  3. in a directory holding only BENCHMARK.json and perfbench/, the
     benchmark exits non-zero without printing a result.
Exits 0 when all checks pass.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
WORK = Path(".bench_build") / "smoke"
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, trace, *extra, cwd="."):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    result = json.loads(last) if last.startswith('{"correct"') else None
    return p.returncode, result


def metrics_match(result, spec):
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    return (set(got) == set(want) and
            all(got[n]["unit"] == u and isinstance(got[n]["value"], (int, float))
                for n, u in want.items()))


def main():
    for w in (w["name"] for w in SPEC["workloads"]):
        for trace, spec in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            code, r = run(w, trace)
            check(code == 0 and r is not None, f"{w} --trace {trace}: exit 0 with a result")
            if r:
                check(metrics_match(r, spec), f"{w} --trace {trace}: every metric with its unit")
                check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                      f"{w} --trace {trace}: outputs correct")
            if trace == 1 and code == 0:
                out = json.loads((Path(".bench_build") / "run" / w / "out" /
                                  f"{w}-seed1-trace1.json").read_text())
                timed, passes = float(out["stamp"]["timed_s"]), sum(out["pass_s"])
                check(timed - passes < 0.5 + 0.1 * passes,
                      f"{w} --trace 1: timed {timed:.2f} s is its passes' {passes:.2f} s")

    # a wrong expected digest must count as a failed operation
    wrong = WORK / "expected"
    shutil.rmtree(wrong, ignore_errors=True)
    shutil.copytree("perfbench/expected", wrong)
    tsv = wrong / "sf0.001.tsv"
    lines = tsv.read_text().splitlines()
    i = next(k for k, l in enumerate(lines) if l and not l.startswith("#"))
    name, digest = lines[i].split("\t")
    lines[i] = f"{name}\t0{digest}"
    tsv.write_text("\n".join(lines) + "\n")
    code, r = run("sf001_short", 0, "--expected", str(wrong))
    check(code == 0 and r is not None and not r["correct"] and r["failed"] >= 1,
          "a wrong expected digest is reported as a failure")

    # without the library sources the benchmark must refuse to run
    bare = WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("target", "project/project"))
    code, r = run("sf001_short", 0, cwd=bare)
    check(code != 0 and r is None, "only BENCHMARK.json and perfbench/: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed" if failures else "all smoke checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
