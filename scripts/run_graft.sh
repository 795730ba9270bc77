#!/bin/bash
# Raw-java launcher for graft mains (avoids the sbt lock; see build.sbt's
# jdk17AddOpens — Spark 4.x on JDK 17 needs these outside spark-submit).
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
REPO="$(cd "$(dirname "$0")/.." && pwd)"
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
