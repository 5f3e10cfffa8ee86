#!/bin/bash
# Direct-java InflateSf runner (sbt's default heap is too small for the
# sf10 clone and its [success] epilogue pollutes logs). Heap: 24 GiB, capped
# by physical memory (tools/heap_cap.sh).
# Usage: tools/run_inflate.sh <srcDir> <dstDir> <factor>
set -e
cd "$(dirname "$0")/.."
MEMCAP=$(tools/heap_cap.sh)
HEAP=$(( ${MEMCAP:-24} < 24 ? ${MEMCAP:-24} : 24 ))
AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
java $AO -Xmx${HEAP}g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.tools.InflateSf "$1" "$2" "${3:-10}"
