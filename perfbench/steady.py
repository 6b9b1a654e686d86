#!/usr/bin/env python3
"""Run each workload several times, one seed per run, and report how
steady every end-to-end metric is.

    python3 perfbench/steady.py --runs 10 [--workloads dashboard] [--seed 1]

For every metric it prints the median, the quartiles (Python's
statistics.quantiles(values, n=4)), the quartile spread (q3 - q1) as a
share of the median, (max - min) / median, and the metric's bound from
BENCHMARK.json; a spread above a third of the bound is flagged. Each
run's result and the load average at its start and end are appended to
.bench_build/perfbench/steady.jsonl. Exits non-zero if a run fails, is
incorrect, or records a failed op.
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


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log_path = os.path.join(ROOT, ".bench_build", "perfbench", "steady.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    bad = False
    for wl in args.workloads:
        values = {m: [] for m in bounds}
        for k in range(args.runs):
            seed = args.seed + k
            load0 = os.getloadavg()[0]
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            load1 = os.getloadavg()[0]
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: run failed (exit {p.returncode})\n"
                      + p.stderr[-2000:])
                bad = True
                continue
            res = json.loads(lines[-1])
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall,
                                     "load_start": load0, "load_end": load1,
                                     "result": res}) + "\n")
            if not res["correct"] or res["failed"]:
                bad = True
            for m in values:
                values[m].append(res["metrics"][m]["value"])
            print(f"{wl} seed {seed}: {wall:.0f} s, load {load0:.2f} -> {load1:.2f}, "
                  f"correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)
        print(f"\n{wl}: {'metric':<16} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'iqr/med':>8} {'rng/med':>8} {'bound':>6}")
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            iqr, rng = (q3 - q1) / med, (max(vs) - min(vs)) / med
            flag = "" if m == "setup_s" or iqr < bounds[m] / 3 else "  <-- above bound/3"
            print(f"{wl}: {m:<16} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} "
                  f"{iqr:>8.3f} {rng:>8.3f} {bounds[m]:>6}{flag}")
        print(flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
