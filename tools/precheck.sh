#!/usr/bin/env bash
# Pre-commit oracle check: run Verify for the named queries (comma-separated,
# default = ALL registered queries) at a small SF and hash-compare against
# DuckDB exactly like the driver's gate. Usage:
#   tools/precheck.sh kmv2_jaccard_est,ts2_weekday_profile [sf_dir]
# Run this for EVERY newly-registered query BEFORE committing — both r11's
# fp2 and r12's kmv2/ts2 failures were last-day registrations that never saw
# a driver-style compare. sf0.01 is the driver's gate SF; prefer it unless
# the query is too slow there.
# A named query that throws or is not registered leaves no output; it is
# reported BAD (with Verify's "[verify] <name> failed:" line), and the
# script exits non-zero when anything is BAD. A build that does not compile
# prints sbt's output and exits 1.
set -euo pipefail
cd "$(dirname "$0")/.."
QUERIES="${1:-}"
SF_DIR="${2:-/root/testdata/sf0.01}"
OUT="/tmp/precheck_$$"
LOG="$OUT.verify.err"
BUILD_LOG="$OUT.compile.log"
trap 'rm -rf "$OUT" "$LOG" "$BUILD_LOG"' EXIT
# sbt logs compile errors to stdout: keep it, and show it when the build fails
if ! sbt -batch compile >"$BUILD_LOG" 2>&1; then
  cat "$BUILD_LOG" >&2
  echo "precheck: sbt compile failed" >&2
  exit 1
fi
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
if [ -n "$QUERIES" ]; then
  java -cp "$CP" graft.Verify "$SF_DIR" "$OUT" "$QUERIES" 2>"$LOG"
else
  java -cp "$CP" graft.Verify "$SF_DIR" "$OUT" 2>"$LOG"
fi
python3 tools/compare.py "$SF_DIR" "$OUT" --expect "$QUERIES" --log "$LOG"
