#!/bin/bash
# Direct JVM launcher for graft mains (bypasses sbt startup/lock).
# usage: run_graft.sh <MainClass> [args...]   env: SPARK_DRIVER_MEM, SPARK_GRAFT_*
MAIN=$1; shift
CP=/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"; done
mkdir -p /dev/shm/graft-tmp
exec java $ADD_OPENS \
  -Djava.io.tmpdir=/dev/shm/graft-tmp \
  -Xmx${SPARK_DRIVER_MEM:-8g} ${GRAFT_JVM_OPTS:-} \
  -cp "$CP" graft.$MAIN "$@"
