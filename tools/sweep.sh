#!/usr/bin/env bash
# Timed bench sweep with the MIGRATION pre-flight rules enforced, then
# machine-made idle-median adjudication (tools/adjudicate.py).
#
# Usage: tools/sweep.sh <out.json> [previous_idle_record.json]
# Env:   the graft.Bench settings (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
#        SPARK_GRAFT_BENCH_RUNS, SPARK_GRAFT_BENCH_ONLY), SPARK_DRIVER_MEM
#        and SPARK_GRAFT_DRAIN_TIMEOUT_MS, plus SWEEP_MIN_FREE_GB
#        (default 40) and SWEEP_IDLE_MAX (default 4.0). Bench runs the
#        declared rows only; scale sweeps measure the declared
#        *_scaled / *_capped twins under their own names.
#
# Pre-flight (both are MIGRATION rules, both measured lessons):
#  1. DISK HYGIENE -- the r15 sweep lost one in-sweep row to ENOSPC from
#     an 18 GB stale blockmgr dir left by a dead diagnostic JVM: purge
#     stale Spark scratch + old verify dumps, then assert free headroom.
#  2. IDLE GATE -- single-run sweep numbers on a co-loaded machine read
#     2-14x their idle medians; refuse to start a timed sweep hot.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:?usage: tools/sweep.sh <out.json> [prev_record.json]}"
PREV="${2:-}"

# --- 1. idle gate -----------------------------------------------------
# Runs BEFORE the scratch purge (ADVICE r16): if another Spark job is
# still live — exactly what this gate detects — purging first would rip
# its shuffle/block-manager dirs out from under it and fail that job
# even though the sweep aborts anyway.
IDLE_MAX="${SWEEP_IDLE_MAX:-4.0}"
load="$(cut -d' ' -f1 /proc/loadavg)"
if ! awk -v l="$load" -v m="$IDLE_MAX" 'BEGIN{exit !(l <= m)}'; then
  echo "[sweep] ABORT: load_avg $load > $IDLE_MAX (MIGRATION idle rule)" >&2
  exit 1
fi
echo "[sweep] idle ok (load_avg $load <= $IDLE_MAX)" >&2

# --- 2. disk hygiene -------------------------------------------------
rm -rf /tmp/blockmgr-* /tmp/spark-* target/tmp/* target/verify_* 2>/dev/null || true
MIN_FREE_GB="${SWEEP_MIN_FREE_GB:-40}"
for d in /tmp target; do
  free_gb=$(df -BG --output=avail "$d" | tail -1 | tr -dc '0-9')
  if [ "${free_gb:-0}" -lt "$MIN_FREE_GB" ]; then
    echo "[sweep] ABORT: $d has ${free_gb}G free (< ${MIN_FREE_GB}G after purge)" >&2
    exit 1
  fi
  echo "[sweep] $d: ${free_gb}G free (>= ${MIN_FREE_GB}G ok)" >&2
done

# --- 3. timed sweep ---------------------------------------------------
ts="$(date +%Y%m%d_%H%M%S)"
log="target/sweep_${ts}.log"
echo "[sweep] bench starting; stderr -> ${log}.err" >&2
tools/run_main.sh graft.Bench 2>"${log}.err" | tee "$log"
# bench_last.json is overwritten by every Bench run (including the
# adjudication re-runs below) -- save the sweep's copy FIRST
cp target/bench_last.json "target/sweep_${ts}.json"
echo "[sweep] sweep record saved: target/sweep_${ts}.json" >&2

# --- 4. adjudication --------------------------------------------------
python3 tools/adjudicate.py --current "target/sweep_${ts}.json" \
  ${PREV:+--previous "$PREV"} --out "$OUT"
