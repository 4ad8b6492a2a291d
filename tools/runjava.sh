#!/bin/bash
# run a graft main class outside sbt (same JVM flags as build.sbt); the
# classes come from this checkout's sbt build, the jars (scala-library
# included) from $SPARK_HOME, else from the install spark-submit runs
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
CP="$ROOT/target/scala-2.13/classes:$SPARK/jars/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar; do OPENS="$OPENS --add-opens $p=ALL-UNNAMED"; done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-16g} -cp "$CP" "$@"
