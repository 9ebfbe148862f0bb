#!/bin/bash
# Direct-JVM runner for any graft main (graft.Bench, graft.Verify,
# graft.tools.Probe, ...) on the compiled classes — bypasses the sbt
# lock so long measurements can run concurrently with a build loop.
# Usage: tools/run.sh [-mem 64g] <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
MEM=16g
if [ "${1:-}" = "-mem" ]; then MEM="$2"; shift 2; fi
MAIN="$1"; shift
# extra JVM flags (e.g. -Dgraft.blockHygiene.debug=true) via GRAFT_JAVA_OPTS
exec java -Xmx"$MEM" -Xss16m ${GRAFT_JAVA_OPTS:-} \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dderby.system.home=target/derby \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
