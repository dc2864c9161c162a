#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars without
# paying sbt startup cost. Usage: tools/run.sh graft.Smoke [args...]
set -e
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.legacy.parquet.nanosAsLong=true \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
