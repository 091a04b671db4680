#!/usr/bin/env python3
"""Run the benchmark several times per workload, each with another seed,
and record each end-to-end metric's spread: the distance between the
first and third quartile of its values as a share of their median.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--first-seed 1] [--out FILE] [workload ...]

Each set runs every workload `--runs` times, each set with its own seeds
(set i uses first-seed + i*runs, first-seed + i*runs + 1, ...). A workload passes when, in every set,
each metric but setup_s spreads by no more than its bound, and in every later
set each metric's median is not worse than the first set's by more than its
bound. Writes (by default) perfbench/steadiness.json beside the benchmark.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def worse_by(first, later, better):
    """How much worse `later` is than `first`, as a share of `first`."""
    if not first:
        return 0.0
    return (later - first) / first if better == "lower" else (first - later) / first


def run_set(bench, workload, runs, first_seed):
    values, walls = {}, []
    for seed in range(first_seed, first_seed + runs):
        t0 = time.monotonic()
        out = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.monotonic() - t0)
        if out.returncode != 0:
            sys.exit(f"{workload} seed {seed}: exit {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"{workload} seed {seed}: incorrect result")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"{workload} seed {seed}: {walls[-1]:.1f} s wall, "
              + ", ".join(f"{k} {v['value']:.6g}" for k, v in result["metrics"].items()),
              file=sys.stderr)
    return values, walls


def main(argv=None):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args(argv)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    record = {"runs": a.runs, "run_seconds": bench["run_seconds"],
              "cpus": os.cpu_count(), "workloads": {}}
    steady = True
    for w in a.workloads:
        sets = []
        for i in range(a.sets):
            first = a.first_seed + i * a.runs
            values, walls = run_set(bench, w, a.runs, first)
            sets.append({
                "seeds": [first, first + a.runs - 1],
                "wall_s": round(statistics.median(walls), 1),
                "metrics": {k: {"median": statistics.median(v), "spread": round(spread(v), 4),
                                "values": v} for k, v in values.items()},
            })
        checks = {}
        for k, m in metrics.items():
            spreads = [s["metrics"][k]["spread"] for s in sets]
            drift = max([worse_by(sets[0]["metrics"][k]["median"], s["metrics"][k]["median"],
                                  m["better"]) for s in sets[1:]] or [0.0])
            ok = drift <= m["bound"] and (k == "setup_s" or max(spreads) <= m["bound"])
            steady &= ok
            checks[k] = {"bound": m["bound"], "max_spread": max(spreads),
                         "max_drift": round(drift, 4), "ok": ok}
            print(f"  {w} {k}: medians {[round(s['metrics'][k]['median'], 6) for s in sets]} "
                  f"spreads {spreads} drift {drift:.4f} (bound {m['bound']}) "
                  f"{'ok' if ok else 'NOT STEADY'}", file=sys.stderr)
        record["workloads"][w] = {"checks": checks, "sets": sets}
    record["steady"] = steady
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=2)
        fh.write("\n")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
