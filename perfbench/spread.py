#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage, from the root of a graft checkout:

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--out FILE]

Runs perfbench/run.py once per seed and workload (untraced, for the
run_seconds of BENCHMARK.json), then prints for each metric the median,
the quartiles as statistics.quantiles(values, n=4) gives them, and the
spread (Q3 - Q1) / median next to the metric's bound. Each run's result
line is appended to --out as JSON, so two sets can be compared later
with --compare FILE_A FILE_B (medians, and the change as a share of the
first median).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def medians(rows):
    by = {}
    for r in rows:
        for name, m in r["metrics"].items():
            by.setdefault((r["workload"], name), []).append(m["value"])
    return by


def report(rows):
    worst = 0.0
    for (w, name), vals in sorted(medians(rows).items()):
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        bound = BOUNDS.get(name)
        if name != "setup_s":
            worst = max(worst, spread / bound)
        print(f"{w:14s} {name:12s} n={len(vals):2d} median={med:12.4f} "
              f"spread={spread:7.4f} bound={bound}")
    print(f"largest spread / bound, setup_s excluded: {worst:.3f}")


def compare(a, b):
    ma, mb = medians(a), medians(b)
    for key in sorted(ma):
        x, y = statistics.median(ma[key]), statistics.median(mb.get(key, [float("nan")]))
        print(f"{key[0]:14s} {key[1]:12s} first={x:12.4f} second={y:12.4f} "
              f"change={(y - x) / x:+.4f} bound={BOUNDS.get(key[1])}")


def load(path):
    return [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=".bench_build/spread.jsonl")
    ap.add_argument("--compare", nargs=2, metavar="FILE")
    a = ap.parse_args()
    if a.compare:
        compare(load(a.compare[0]), load(a.compare[1]))
        return
    rows = []
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            r = run(w, s)
            r.update(workload=w, seed=s)
            if not r["correct"]:
                print(f"{w} seed {s}: {r['failed']} of {r['attempted']} operations failed")
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            rows.append(r)
    report(rows)


if __name__ == "__main__":
    main()
