#!/usr/bin/env python3
"""Repeat benchmark runs and summarise each metric, to set and prove bounds.

    python3 perfbench/repeat.py --workload corpus --workload pubsub \
        --seeds 1-10 [--seconds 12] [--trace 0|1|both] [--json FILE]

For every workload it runs perfbench/run.py once per seed and prints, per
metric, the median, the first and third quartiles (statistics.quantiles,
n=4) and the spread (Q3 - Q1) / median, next to the metric's bound from
BENCHMARK.json ("ok" when the spread is below a third of the bound). With
--trace both every seed runs untraced and traced, and the tracing overhead
(traced minus untraced median, per end-to-end metric) is printed as well;
the traced end-to-end figures come from the run's result file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summary(values):
    """Median, quartiles and spread of at least two values."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": spread}


def run_once(workload, seed, seconds, trace, out):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--out", out]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    full = os.path.join(out, f"result-{workload}-seed{seed}-trace{trace}.json")
    with open(full) as f:
        e2e = {k: v["value"] for k, v in json.load(f)["end_to_end"].items()}
    return line, e2e


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1", "both"))
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "perfbench-repeat"))
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    traces = {"0": [0], "1": [1], "both": [0, 1]}[args.trace]
    report = {}
    for w in args.workload:
        per = {t: {} for t in traces}
        e2e_traced = {}
        bad = 0
        for seed in seeds_of(args.seeds):
            for t in traces:
                line, e2e = run_once(w, seed, seconds, t, args.out)
                bad += line["failed"] + (0 if line["correct"] else 1)
                for k, v in line["metrics"].items():
                    per[t].setdefault(k, []).append(v["value"])
                if t == 1:
                    for k, v in e2e.items():
                        e2e_traced.setdefault(k, []).append(v)
                print(f"{w} seed {seed} trace {t}: " + ", ".join(
                    f"{k}={v['value']:.6g}" for k, v in line["metrics"].items()
                    if t == 0 or k in bounds), file=sys.stderr, flush=True)
        report[w] = {"failed_or_incorrect": bad}
        for t in traces:
            rows = {k: summary(v) for k, v in per[t].items() if len(v) >= 2}
            report[w][f"trace{t}"] = rows
            print(f"\n{w} (trace {t}, {len(seeds_of(args.seeds))} seeds, failed {bad})")
            for k, s in rows.items():
                b = bounds.get(k)
                verdict = "" if b is None else (
                    f" bound {b} " + ("ok" if s["spread"] < b / 3 else "WIDE"))
                print(f"  {k:44s} median {s['median']:12.6g} q1 {s['q1']:12.6g} "
                      f"q3 {s['q3']:12.6g} spread {s['spread']:7.4f}{verdict}")
        if 0 in traces and 1 in traces:
            over = {k: statistics.median(e2e_traced[k]) - statistics.median(per[0][k])
                    for k in per[0] if k in e2e_traced}
            report[w]["trace_overhead"] = over
            print(f"  tracing overhead (traced - untraced median): " +
                  ", ".join(f"{k}={v:+.6g}" for k, v in over.items()))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
