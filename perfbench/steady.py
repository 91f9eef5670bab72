#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of the same code agree?

  python3 perfbench/steady.py [--seeds N] [--sets 2] [--workloads a,b] [--trace-runs]

Runs the BENCHMARK.json command on every workload once per seed (seeds
1..N), as `--sets` sets, each run with --trace 0. For every end-to-end
metric it reports each set's median and quartile spread (Q3 - Q1 over the
median, from statistics.quantiles(n=4)), whether the spread stays within a
third of the metric's declared bound (and within the bound itself), and
whether the later set's median is worse than the first by more than the
bound. With --trace-runs it also makes one traced run per workload and
reports the tracing overhead. Every run records nproc and load average.

It refuses to start while the 1-minute load average is above --idle-max
(the tools/sweep.sh idle gate). The result is written to
$CARGO_TARGET_DIR/perfbench/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd, workload, seed, seconds, trace):
    t = time.time()
    load = os.getloadavg()[0]
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds",
                              str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        last = None
    return {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
            "wall_s": time.time() - t, "nproc": os.cpu_count(), "loadavg": load,
            "result": last, "log_tail": lines[-40:] if last is None else []}


def spread(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, (q3 - q1) / med


def worse(a, b, better):
    """Relative amount by which b is worse than a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--idle-max", type=float, default=2.0)
    ap.add_argument("--trace-runs", action="store_true")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    load = os.getloadavg()[0]
    if load > args.idle_max:
        sys.exit(f"[steady] ABORT: load average {load:.2f} > {args.idle_max} (idle gate)")
    print(f"[steady] nproc={os.cpu_count()} loadavg={load:.2f}", flush=True)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = [n for n in names if n in args.workloads.split(",")]
    runs = []
    for s in range(args.sets):
        for w in names:
            for seed in range(1, args.seeds + 1):
                r = run_once(bench["command"], w, seed, bench["run_seconds"], 0)
                r["set"] = s
                runs.append(r)
                res = r["result"] or {}
                print(f"[steady] set={s} {w} seed={seed} rc={r['rc']} wall={r['wall_s']:.1f}s "
                      f"load={r['loadavg']:.2f} correct={res.get('correct')} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                      flush=True)
    table = []
    ok = True
    for w in names:
        for m in bench["end_to_end"]:
            sets = []
            for s in range(args.sets):
                xs = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                      if r["workload"] == w and r["set"] == s and r["result"]
                      and r["result"]["correct"]]
                sets.append(spread(xs) if len(xs) >= 2 else (float("nan"), float("nan")))
            drift = max(worse(sets[0][0], x[0], m["better"]) for x in sets[1:]) if len(sets) > 1 else 0.0
            spreads = [x[1] for x in sets]
            gated = m["name"] != "setup_s"
            row = {"workload": w, "metric": m["name"], "bound": m["bound"],
                   "medians": [x[0] for x in sets], "spreads": spreads, "drift": drift,
                   "spread_within_third": all(sp <= m["bound"] / 3 for sp in spreads) or not gated,
                   "spread_within_bound": all(sp <= m["bound"] for sp in spreads) or not gated,
                   "sets_agree": drift <= m["bound"]}
            ok = ok and row["spread_within_bound"] and row["sets_agree"]
            table.append(row)
            print(f"[steady] {w:16s} {m['name']:18s} bound={m['bound']:.2f} "
                  f"spreads={','.join(f'{x:.3f}' for x in spreads)} "
                  f"medians={','.join(f'{x:.4g}' for x in row['medians'])} drift={drift:+.3f} "
                  f"{'OK' if row['spread_within_third'] and row['sets_agree'] else 'CHECK'}",
                  flush=True)
    overhead = {}
    if args.trace_runs:
        for w in names:
            r = run_once(bench["command"], w, 1, bench["run_seconds"], 1)
            runs.append(r)
            if r["result"]:
                overhead[w] = r["result"]["metrics"].get("trace.overhead_frac", {}).get("value")
            print(f"[steady] traced {w}: overhead_frac={overhead.get(w)}", flush=True)
    out_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump({"table": table, "runs": runs, "trace_overhead": overhead}, f, indent=1)
    print(f"[steady] {'AGREE' if ok else 'DISAGREE'}; record: {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
