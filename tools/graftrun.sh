#!/bin/bash
# Direct-JVM runner for graft mains (probe/plan work): mirrors build.sbt's
# forked-run JVM flags without paying sbt startup or fighting its build
# lock. Usage: tools/graftrun.sh graft.PlanDump q158_best_survivors ...
# The classpath holds the main classes and the test classes, where the
# probes in tools/ compile (run `sbt Test/compile` first), e.g.
# tools/graftrun.sh graft.SkewProbe
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
CP="$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:$(ls "$SPARK_HOME"/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx8g -Xms8g -XX:ReservedCodeCacheSize=512m -XX:+UseG1GC \
  -cp "$CP" "$@"
