#!/usr/bin/env python3
"""Machine-made idle-median adjudication for bench sweeps.

Automates the MIGRATION idle-bench rule that rounds 13-15 applied by
hand: a row whose in-sweep SINGLE run drifts >1.5x(+2s) vs its previous
idle record is presumed co-load noise until a dedicated idle 3-run
median confirms it; a row whose in-sweep run FAILED needs a dedicated
re-run regardless. Emits ONE self-consistent artifact (VERDICT r15 #2):

  - `queries`   : adjudication-grade values (in-sweep singles, with the
                  dedicated idle medians patched in UNIFORMLY for every
                  adjudicated row) -- a consumer reading this map can
                  never read a false regression;
  - `in_sweep_raw` : the replaced singles, kept for audit;
  - `adjudicated`  : structured {row: {in_sweep, idle_median, runs,
                  load_avg}} -- the medians live as DATA, not prose;
  - `value`     : total recomputed from the patched `queries`.

Usage:
  tools/adjudicate.py --current target/sweep_<ts>.json \
      [--previous BENCH_SCALE10_r15.json] --out BENCH_SCALE10_r16.json

The adjudication re-runs inherit the caller's env (SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, driver mem) and override only SPARK_GRAFT_BENCH_ONLY /
SPARK_GRAFT_BENCH_RUNS, so each median measures the exact sweep config.
Each re-run waits for the machine to be idle first (1-min load average
<= --idle-max) -- the whole point is an uncontended number.
"""
import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_LAST = os.path.join(REPO, "target", "bench_last.json")


def log(msg):
    print(f"[adjudicate] {msg}", file=sys.stderr, flush=True)


def wait_for_idle(idle_max, timeout_s):
    t0 = time.time()
    while True:
        load = os.getloadavg()[0]
        if load <= idle_max:
            return load
        if time.time() - t0 > timeout_s:
            log(f"WARNING: still load_avg {load:.1f} > {idle_max} after "
                f"{timeout_s}s -- proceeding anyway (median will note it)")
            return load
        log(f"waiting for idle: load_avg {load:.1f} > {idle_max}")
        time.sleep(30)


def rerun_row(name, runs, idle_max, idle_timeout_s):
    """Dedicated idle N-run median for one row via run_main.sh (no sbt
    lock). Returns (median, load_avg_at_exit) or (None, load) on
    failure."""
    load = wait_for_idle(idle_max, idle_timeout_s)
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = name
    env["SPARK_GRAFT_BENCH_RUNS"] = str(runs)
    log(f"re-running {name} as a dedicated idle {runs}-run median "
        f"(load_avg {load:.1f})")
    try:
        subprocess.run(
            [os.path.join(REPO, "tools", "run_main.sh"), "graft.Bench"],
            env=env, cwd=REPO, check=True,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=7200)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        log(f"ERROR: dedicated re-run of {name} failed: {e}")
        return None, load
    # each Bench run overwrites bench_last.json -- read it immediately
    with open(BENCH_LAST) as f:
        rec = json.load(f)
    val = rec.get("queries", {}).get(name)
    if val is None or val < 0:
        log(f"ERROR: re-run of {name} produced no timing (got {val})")
        return None, rec.get("load_avg", -1.0)
    return val, rec.get("load_avg", -1.0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--current", required=True,
                    help="sweep JSON (a saved copy of bench_last.json)")
    ap.add_argument("--previous", default=None,
                    help="previous idle record to compare against "
                         "(e.g. BENCH_SCALE10_r15.json); rows are read "
                         "from its queries map, falling back to its "
                         "adjudicated idle medians where present")
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--idle-max", type=float, default=4.0)
    ap.add_argument("--idle-timeout", type=int, default=1800)
    ap.add_argument("--drift-factor", type=float, default=1.5)
    ap.add_argument("--drift-abs", type=float, default=2.0)
    args = ap.parse_args()

    with open(args.current) as f:
        cur = json.load(f)
    queries = dict(cur.get("queries", {}))

    prev_q, prev_modes = {}, {}
    if args.previous:
        with open(args.previous) as f:
            prev = json.load(f)
        prev_q = dict(prev.get("queries", {}))
        # measurement modes (VERDICT r16 #4): rows without a stamped
        # mode predate mode bookkeeping -- treat them as sweep singles,
        # the mode every unadjudicated row actually was
        prev_modes = dict(prev.get("modes", {}))
        # the previous record's own adjudicated medians ARE its idle
        # numbers -- prefer them if its queries map was left unpatched
        for row, a in prev.get("adjudicated", {}).items():
            if isinstance(a, dict) and a.get("idle_median") is not None:
                prev_q[row] = a["idle_median"]
                prev_modes.setdefault(row, f"idle-median{a.get('runs', 3)}")

    suspects, new_rows = [], []
    for row, t in sorted(queries.items()):
        if t < 0:
            suspects.append((row, t, prev_q.get(row), "in-sweep run failed"))
        elif row not in prev_q:
            new_rows.append(row)
        elif prev_q[row] >= 0 and \
                t > args.drift_factor * prev_q[row] + args.drift_abs:
            suspects.append((row, t, prev_q[row],
                             f"drift {t:.1f}s vs previous idle "
                             f"{prev_q[row]:.1f}s"))
    log(f"{len(queries)} rows; {len(suspects)} to adjudicate; "
        f"{len(new_rows)} new rows (no previous record -- not compared)")

    adjudicated = {}
    in_sweep_raw = {}
    # per-row measurement mode (VERDICT r16 #4): every row starts as the
    # sweep's own shared-JVM mode (single run or median-of-N, read off
    # the bench record's `runs`); adjudicated rows are overwritten below
    sweep_runs = cur.get("runs", 1)
    sweep_mode = ("sweep-single" if sweep_runs == 1
                  else f"sweep-median{sweep_runs}")
    modes = {row: sweep_mode for row in queries}
    for row, t, prev_t, why in suspects:
        log(f"adjudicating {row}: {why}")
        median, load = rerun_row(row, args.runs, args.idle_max,
                                 args.idle_timeout)
        if median is None:
            # leave the in-sweep value in place; record the attempt so
            # the artifact is honest about what could not be adjudicated
            adjudicated[row] = {"in_sweep": t, "idle_median": None,
                                "runs": args.runs, "load_avg": load,
                                "reason": why, "rerun": "FAILED"}
            continue
        in_sweep_raw[row] = t
        queries[row] = round(median, 3)
        modes[row] = f"idle-median{args.runs}"
        prev_mode = prev_modes.get(row, "sweep-single")
        if t < 0:
            # an in-sweep FAILURE that a dedicated re-run then completed
            # is failure-recovery, not co-load noise (ADVICE r16)
            verdict = "rerun-recovered"
        elif (prev_t is not None and prev_t >= 0 and
                median > args.drift_factor * prev_t + args.drift_abs):
            # a regression is CONFIRMED only like-to-like (VERDICT r16
            # #4): our idle median vs a previous idle median. Against a
            # previous shared-JVM sweep single the comparison is
            # apples-to-oranges (JIT-warmup-sensitive rows measure
            # SLOWER fresh than warm), so the verdict says so.
            verdict = ("regression-confirmed"
                       if prev_mode.startswith("idle-median")
                       else "regression-vs-sweep-single")
        else:
            verdict = "noise-vanished"
        adjudicated[row] = {"in_sweep": t, "idle_median": round(median, 3),
                            "runs": args.runs, "load_avg": round(load, 2),
                            "reason": why, "prev_mode": prev_mode,
                            "verdict": verdict}
        log(f"  {row}: in-sweep {t}s -> idle median {median:.3f}s "
            f"({verdict})")

    total = round(sum(v for v in queries.values() if v >= 0), 3)
    out = {
        "_meta": cur.get("_meta", {}),
        "metric": "total", "value": total, "unit": "sec",
        "queries": queries,
        "adjudication_rule": (
            f"rows whose in-sweep single exceeded {args.drift_factor}x "
            f"previous idle record + {args.drift_abs}s (or failed) were "
            f"re-run as dedicated idle {args.runs}-run medians and "
            "patched UNIFORMLY into `queries` (raw singles in "
            "`in_sweep_raw`); total is recomputed from the patched map"),
        "adjudicated": adjudicated,
        "in_sweep_raw": in_sweep_raw,
        "modes": modes,
        "new_rows": new_rows,
        "previous_record": args.previous,
        "load_avg": cur.get("load_avg"),
        "sf": cur.get("sf"),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    log(f"wrote {args.out}: total {total}s over {len(queries)} rows, "
        f"{len([a for a in adjudicated.values() if a.get('idle_median')])} "
        f"adjudicated")


if __name__ == "__main__":
    main()
