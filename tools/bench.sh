#!/usr/bin/env bash
# The ONLY sanctioned way to produce an official BENCH record.
#
# Rounds 6-9 showed the bench's worst enemy is its own driver session:
# an sbt compile or test run sharing the 32 cores inflates per-query
# timings 2-14x, and sbt rewrites classfiles UNDER the running JVM.
# This wrapper removes both hazards:
#   1. no sbt anywhere in the timing window — plain `java` against a
#      classpath staged BEFORE launch (Spark jars are unmanaged at
#      /opt/spark/jars, so the full runtime classpath is just
#      classes + jars);
#   2. the compiled classes are COPIED to tools/.bench_stage/ first, so
#      a concurrent compile cannot touch what the bench JVM loads;
#   3. it refuses to start while another sbt/Bench JVM is alive
#      (override: SPARK_GRAFT_BENCH_FORCE=1), because a contended
#      record is worthless no matter how it was launched.
#
# Usage: tools/bench.sh [queryName...]        (compile first: sbt compile)
# Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_OUT,
#        SPARK_DRIVER_MEM — same contract as `runMain graft.Bench`.
#        SPARK_GRAFT_BENCH_TAG=r13 additionally copies the sidecar to
#        tools/bench_<tag>.json, so the round's clean reference record
#        survives on disk when a later run (the driver's per-round bench
#        invokes graft.Bench directly and always writes
#        tools/bench_last.json) overwrites the pointer file. Without the
#        tag, bench_last.json is restored from git after driver rounds.
set -euo pipefail
cd "$(dirname "$0")/.."

CLASSES=target/scala-2.13/classes
STAGE=tools/.bench_stage/classes
[ -d "$CLASSES" ] || { echo "bench.sh: no $CLASSES — run 'sbt compile' first" >&2; exit 1; }

if [ "${SPARK_GRAFT_BENCH_FORCE:-0}" != "1" ]; then
  # only a real JVM counts: pgrep -f also matches non-java processes that
  # merely mention these class names in their argv (e.g. an orchestration
  # shell whose prompt text cites graft.Bench), so filter by process name
  busy=""
  # graft.Bench itself is in the pattern: a SIBLING official run is the
  # single worst contention source (this guard runs while we are still
  # bash, so the current process never matches the java-comm filter)
  for p in $(pgrep -f 'sbt-launch|xsbt.boot.Boot|graft.Bench' || true); do
    [ "$(cat /proc/"$p"/comm 2>/dev/null)" = "java" ] && busy="$busy $p"
  done
  if [ -n "$busy" ]; then
    echo "bench.sh: refusing to bench while sbt/another Bench runs (pids:$busy)" >&2
    echo "bench.sh: wait for them or set SPARK_GRAFT_BENCH_FORCE=1" >&2
    exit 2
  fi
fi

rm -rf "$STAGE"
mkdir -p "$(dirname "$STAGE")"
cp -a "$CLASSES" "$STAGE"

# JDK17 module opens: what spark-submit injects and build.sbt mirrors
# (org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions)
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done

set +e
java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$STAGE:/opt/spark/jars/*" \
  graft.Bench "$@"
rc=$?
set -e

# name the record: the round's clean sidecar must survive later runs on
# disk, not just in git history (r10 verdict directive 7). Only on a
# CLEAN exit — a crashed JVM leaves the PREVIOUS run's sidecar on disk,
# and copying that under this round's tag would mislabel stale data as
# the round's record (r13 review).
out="${SPARK_GRAFT_BENCH_OUT:-tools/bench_last.json}"
if [ "$rc" -eq 0 ] && [ -n "${SPARK_GRAFT_BENCH_TAG:-}" ] && [ -f "$out" ]; then
  cp "$out" "tools/bench_${SPARK_GRAFT_BENCH_TAG}.json"
  echo "bench.sh: sidecar also saved as tools/bench_${SPARK_GRAFT_BENCH_TAG}.json" >&2
  # advance the official-record pointer (graft.Bench reads it at LAUNCH,
  # so this run was stamped against the PREVIOUS official record; the
  # next round's run will stamp against this one). Only tagged clean
  # exits advance it — bench_official.txt therefore always names the
  # last deliberately-blessed record, which is the round-over-round
  # basis canary_vs_official carries (Bench.officialDriftJson scaladoc).
  echo "tools/bench_${SPARK_GRAFT_BENCH_TAG}.json" > tools/bench_official.txt
  echo "bench.sh: official pointer advanced to tools/bench_${SPARK_GRAFT_BENCH_TAG}.json" >&2
fi
exit $rc
