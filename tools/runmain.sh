#!/bin/bash
# Run a graft main against the compiled classes without sbt (probe runner).
# usage: tools/runmain.sh [-mem 8g] <mainClass> [args...]
# Needs SPARK_HOME (the Spark install whose jars/ is put on the classpath).
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MEM=8g
if [ "$1" = "-mem" ]; then MEM="$2"; shift 2; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx$MEM $OPENS \
  -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=32 \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars/*" "$@"
