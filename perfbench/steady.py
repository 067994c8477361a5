#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
                                [--workloads gemm,dedup_stream] [--traced 2]
                                [--save records.json]

Runs perfbench/run.py --runs times per workload, each with another seed, and
prints for every end-to-end metric its median, quartiles
(statistics.quantiles(n=4)) and spread = (q3 - q1) / median against the
metric's bound in BENCHMARK.json ("ok" when the spread is below a third of
the bound). It also prints the median time of each pass index across runs,
so one can see whether warm passes have levelled off, and, with --traced N,
the tracing overhead: median traced pass_s minus median untraced pass_s.
The last stdout line is a JSON summary.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload, for the tracing overhead")
    ap.add_argument("--save", help="write every run's full record to this JSON file")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary, saved = {}, {}
    for w in a.workloads.split(","):
        records, metrics = [], {k: [] for k in bounds}
        for i in range(a.runs):
            rec, res = run(w, a.first_seed + i, bench["run_seconds"], 0)
            records.append(rec)
            for k in bounds:
                metrics[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {a.first_seed + i}: " + " ".join(
                f"{k}={metrics[k][-1]:.4g}" for k in bounds) +
                f" wall={rec['wall_s']:.1f}s steal={rec['steal_frac']:.1%}", flush=True)
        print(f"== {w}: {a.runs} runs")
        print(f"  {'metric':<14}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>9}{'bound':>8}")
        summary[w] = {}
        for k, vals in metrics.items():
            med, q1, q3, sp = spread(vals)
            flag = "ok" if sp < bounds[k] / 3 else ("wide" if k != "setup_s" else "")
            print(f"  {k:<14}{med:>10.4g}{q1:>10.4g}{q3:>10.4g}{sp:>9.3f}{bounds[k]:>8}  {flag}")
            summary[w][k] = {"median": med, "q1": q1, "q3": q3, "spread": sp}
        # Warm-up levelling: median time of each pass index across runs.
        depth = min(len(r["passes"]) for r in records)
        curve = [statistics.median(r["passes"][p] for r in records) for p in range(depth)]
        print("  pass medians: " + " ".join(f"p{p}={t:.3f}" for p, t in enumerate(curve)))
        if depth >= 3:
            step = curve[-1] / curve[-2] - 1
            print(f"  last/first warm pass: {curve[-1] / curve[1]:.3f}; last step "
                  f"{step:+.1%} ({'levelled' if abs(step) < 0.05 else 'still moving'})")
        summary[w]["pass_curve"] = curve
        saved[w] = records
        if a.traced:
            traced = [run(w, a.first_seed + i, bench["run_seconds"], 1)[1]
                      for i in range(a.traced)]
            tp = statistics.median(t["metrics"]["trace.pass_s"]["value"] for t in traced)
            up = summary[w]["pass_s"]["median"]
            print(f"  tracing overhead: traced pass_s {tp:.4g} - untraced {up:.4g} "
                  f"= {tp - up:+.4g} s ({(tp - up) / up:+.1%})")
            summary[w]["trace_overhead_s"] = tp - up
    if a.save:
        with open(a.save, "w") as f:
            json.dump(saved, f)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
