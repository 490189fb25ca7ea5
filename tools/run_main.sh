#!/bin/bash
# Plain-JVM runner for graft mains (no sbt lock): tools/run_main.sh <MainClass> [args...]
# Env passes through (SPARK_GRAFT_SF_DIR etc.).
#
# Heap is BOUNDED (default 8g, same as build.sbt's fork) — measured r15:
# a 96g heap made full-registry benches read the dd_ graph family 10-90x
# slow. Spark's ContextCleaner purges shuffles/broadcasts/checkpointed
# RDDs from a GC reference queue; a heap that never fills never GCs, the
# cleaner never fires, and 240 queries of accumulated state (7,800+
# threads observed) crawl the back half of the run. Small heap = frequent
# young GCs = the cleaner keeps up. Override with SPARK_DRIVER_MEM for
# genuinely bigger inputs (sf1 sweeps: 16g).
# the classes of the checkout this script sits in, wherever that was copied
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
exec java -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" \
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
  "$@"
