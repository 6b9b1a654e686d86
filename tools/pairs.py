#!/usr/bin/env python3
"""Compare two checkouts on the perfbench workloads with alternating
same-seed pairs.

    python3 tools/pairs.py --base ../parent --head . --workload live_ingest \
        --pairs 6 --seed 301 [--trace 0] [--seconds 5]

Pair k runs seed (seed + k) on both checkouts, one run at a time, the
base first on even k and the head first on odd k, so a drift in machine
load hits both sides alike. Each checkout runs its own
perfbench/run.py, which builds that checkout's sources; one unrecorded
1-second run per side builds them before the first pair.

For every end-to-end metric of BENCHMARK.json (with --trace 1 every
per-layer metric instead: a traced run reports only those) it prints
the base and head medians, the head's change in percent, the base
quartiles (statistics.quantiles, n=4), the
quartile spread (q3 - q1) / median of each side against the metric's
bound, and the pairs the head won (better in the metric's direction).
`gain` marks a metric whose head won at least 9 of every 10 pairs and
whose median moved by more than the base's quartile spread. Every run's
load average (/proc/loadavg) at start and end is printed and appended,
with its result, to .bench_build/perfbench/pairs.jsonl under the head
checkout. Exits non-zero if a run fails, is incorrect, or records a
failed op.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def loadavg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def run(checkout, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} seed {seed}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    return json.loads(lines[-1]), time.time() - t0


def spread(vs):
    med = statistics.median(vs)
    q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout to compare against")
    ap.add_argument("--head", default=ROOT, help="checkout under test")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--seed", type=int, default=301, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    base, head = os.path.abspath(args.base), os.path.abspath(args.head)
    with open(os.path.join(head, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    # a traced run reports the per-layer metrics in place of the
    # end-to-end ones (its timings carry the tracer's overhead)
    metrics = {m["name"]: m for m in spec["per_layer" if args.trace else "end_to_end"]}
    shown_names = (["spark.jobs_per_op", "query.page_ms_p50"] if args.trace
                   else [e["name"] for e in spec["end_to_end"]])
    log_path = os.path.join(head, ".bench_build", "perfbench", "pairs.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    for side in (base, head):  # build each checkout outside the record
        run(side, args.workload, args.seed, 1, 0)
    vals = {"base": {m: [] for m in metrics}, "head": {m: [] for m in metrics}}
    bad = False
    for k in range(args.pairs):
        seed = args.seed + k
        order = [("base", base), ("head", head)]
        for name, checkout in (order if k % 2 == 0 else order[::-1]):
            l0 = loadavg()
            res, wall = run(checkout, args.workload, seed, seconds, args.trace)
            l1 = loadavg()
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"pair": k, "side": name, "checkout": checkout,
                                     "workload": args.workload, "seed": seed,
                                     "wall_s": wall, "load_start": l0,
                                     "load_end": l1, "result": res}) + "\n")
            bad |= not res["correct"] or res["failed"] > 0
            for m in metrics:
                vals[name][m].append(res["metrics"][m]["value"])
            shown = " ".join(f"{m}={res['metrics'][m]['value']:.4g}"
                             for m in shown_names if m in res["metrics"])
            print(f"pair {k} seed {seed} {name}: {wall:.0f} s, load {l0} -> {l1}, "
                  f"correct={res['correct']} failed={res['failed']} {shown}",
                  flush=True)

    n = args.pairs
    print(f"\n{args.workload}, {n} pairs: {'metric':<34} {'base':>11} {'head':>11} "
          f"{'change':>8} {'base q1':>11} {'base q3':>11} {'iqr/med b':>9} "
          f"{'iqr/med h':>9} {'bound':>6} {'wins':>6}")
    for m, decl in metrics.items():
        b, h = vals["base"][m], vals["head"][m]
        bmed, bq1, bq3, biqr = spread(b)
        hmed, _, _, hiqr = spread(h)
        lower = decl["better"] == "lower"
        wins = sum(1 for x, y in zip(b, h) if (y < x if lower else y > x))
        change = (hmed - bmed) / bmed * 100 if bmed else float("nan")
        gain = wins >= 0.9 * n and abs(hmed - bmed) > (bq3 - bq1)
        bound = decl.get("bound", "")
        print(f"{args.workload}: {m:<34} {bmed:>11.4g} {hmed:>11.4g} {change:>+7.1f}% "
              f"{bq1:>11.4g} {bq3:>11.4g} {biqr:>9.3f} {hiqr:>9.3f} {bound!s:>6} "
              f"{wins:>3}/{n}{'  gain' if gain else ''}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
