#!/usr/bin/env bash
# Plan fingerprint of every declared query: runs graft.Explain over all
# rows on one fixture dir and writes the formatted physical plans with
# the run-specific parts normalized away, so a pure refactor can be
# checked by diffing the output of the old and the new tree.
#
# Usage (from any directory; runs in the checkout that holds this script):
#   tools/plan_fingerprint.sh <sfDir> <outFile>
#
# Normalized: expression ids (#123), UUIDs, plan_id=N, RDD ids
# ([123] after an RDD name, "RDD 123"), Scala call sites (Foo.scala:123)
# and the checkout's absolute path (→ <cwd>). sbt's "[info] " prefix
# and its own log lines around the run are dropped.
set -euo pipefail
[ $# -eq 2 ] || { echo "usage: $0 <sfDir> <outFile>" >&2; exit 2; }
SF_DIR="$1"
OUT="$(realpath -m "$2")"
cd "$(dirname "$0")/.."
CWD="$(pwd)"
RAW="$(mktemp)"
trap 'rm -f "$RAW"' EXIT
export COURSIER_MODE="${COURSIER_MODE:-offline}"
sbt --batch -Dsbt.log.noformat=true "runMain graft.Explain $SF_DIR" >"$RAW"
sed -n 's/^\[info\] //p' "$RAW" \
  | sed -n '/^========== /,$p' \
  | sed -E \
      -e "s#${CWD}#<cwd>#g" \
      -e 's/#[0-9]+/#N/g' \
      -e 's/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/<uuid>/g' \
      -e 's/plan_id=[0-9]+/plan_id=N/g' \
      -e 's/(RDD|rdd) ?\[?[0-9]+\]?/\1 N/g' \
      -e 's/\[[0-9]+\] at /[N] at /g' \
      -e 's/\.scala:[0-9]+/.scala:N/g' \
  | grep -vE '^(Total time|\[success\])' >"$OUT"
grep -c '^========== ' "$OUT" >&2 || true
