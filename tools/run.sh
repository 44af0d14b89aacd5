#!/bin/bash
# Direct JVM runner for graft mains (skips sbt startup; classes must be
# compiled first via `sbt compile`).
# Usage: tools/run.sh graft.Bench [args...]
#        tools/run.sh close-round <N>   # commit the round's report files
set -euo pipefail

# Mechanical round-close: three consecutive verdicts (r10-r12) flagged
# untracked BENCH_r*/CORRECTNESS_r* and modified BENCH_FULL/LEAKCHECK
# files. Committing the round's evidence is a step here, not a memory.
if [ "${1:-}" = "close-round" ]; then
  n="${2:?usage: tools/run.sh close-round <round-number>}"
  cd "$(dirname "$0")/.."
  git add -A -- 'BENCH_*.json' 'CORRECTNESS_*.json' BASELINE_BENCH.json \
    BASELINE.json LEAKCHECK.json COPYCHECK.json VERDICT.md ADVICE.md \
    PLANS.md COVERAGE.md BASELINE.md 2>/dev/null || true
  if git diff --cached --quiet; then
    echo "close-round: report artifacts already committed (clean)"
  else
    git commit -m "Check in the round-$n report artifacts"
  fi
  # fail loudly if anything report-shaped is STILL untracked/dirty
  leftover=$(git status --porcelain -- '*.json' '*.md' | grep -E 'BENCH|CORRECTNESS|LEAKCHECK|COPYCHECK|VERDICT|ADVICE' || true)
  if [ -n "$leftover" ]; then
    echo "close-round: WARNING, report files still dirty:" >&2
    echo "$leftover" >&2
    exit 1
  fi
  exit 0
fi
# the checkout this script lives in: its compiled classes and its
# resources (core-site.xml) are the ones that run. The resources come
# first, so a stale core-site.xml that an sbt test run copied into the
# classes directory cannot shadow the source's.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "$ROOT/src/main/resources:${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}:/opt/spark/jars/*" \
  "$@"
