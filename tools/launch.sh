#!/bin/bash
# JVM launch settings shared by the tools. Source it from the repository
# root after `sbt compile`, then start a main with
#   graft_java -Xmx8g graft.Verify <sfDir> <outDir>
# GRAFT_OPENS is the --add-opens list Spark needs on JDK 17 outside
# spark-submit (the same list as jdk17AddOpens in build.sbt).
GRAFT_CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
GRAFT_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_OPENS="$GRAFT_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done

graft_java() {
  java $GRAFT_OPENS -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC -cp "$GRAFT_CP" "$@"
}
