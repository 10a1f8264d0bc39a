#!/usr/bin/env bash
# Plain-java isolated per-query probe: one fresh JVM per query, so
# cumulative session pressure can't contaminate the measurement, and no
# ~30 s sbt launch per query. Works at any SF dir (sf0.1 through sf10).
# The classpath comes from a one-time `sbt export Runtime/fullClasspath`
# snapshot, the same classes dir `sbt runMain` uses.
#
#   tools/java_probe.sh sf_dir out.jsonl q1 q2 ...
# env: SPARK_DRIVER_MEM (default 17g, the r11+ probe heap),
#      PROBE_REPS (default 1), CP_FILE (default /tmp/graft_cp.txt)
set -uo pipefail
SF=$1; OUT=$2; shift 2
cd "$(dirname "$0")/.."
CP=$(cat "${CP_FILE:-/tmp/graft_cp.txt}")
# mirror build.sbt's forked-JVM flags (JDK-17 module opens + the
# GCLocker retry budget) so a plain-java probe measures the same JVM
# configuration `sbt runMain` (the driver) runs under
JFLAGS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64"
for q in "$@"; do
  echo "[java-probe] $SF $q"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=${PROBE_CPUS:-32} \
    SPARK_GRAFT_BENCH_ONLY="$q" SPARK_GRAFT_BENCH_REPS=${PROBE_REPS:-1} \
    java -Xmx${SPARK_DRIVER_MEM:-17g} $JFLAGS -cp "$CP" graft.Bench \
    > /tmp/java_probe_$q.log 2>&1
  rc=$?
  if [ $rc -eq 0 ] && [ -f BENCH_DETAIL.json ]; then
    python3 - "$q" "$SF" <<'EOF' >> "$OUT"
import json, sys
q, sf = sys.argv[1], sys.argv[2]
d = json.load(open('BENCH_DETAIL.json'))
row = d['queries_detail'][q]
print(json.dumps({'query': q, 'sf_dir': sf, **row}))
EOF
  else
    echo "{\"query\": \"$q\", \"sf_dir\": \"$SF\", \"errors\": 1, \"rc\": $rc}" >> "$OUT"
    tail -5 /tmp/java_probe_$q.log
  fi
done
echo "[java-probe] done -> $OUT"
