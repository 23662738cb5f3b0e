#!/bin/bash
# Direct JVM launcher for graft mains (bypasses sbt startup/lock).
# usage: run_graft.sh <MainClass> [args...]   env: SPARK_DRIVER_MEM, SPARK_GRAFT_*
# The classpath holds the same Spark jars as the sbt build: those whose name
# without its version (build.sbt's pattern) is on project/spark-jars.txt.
MAIN=$1; shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
declare -A KEEP
while read -r name _; do
  [ -n "$name" ] && KEEP[$name]=1
done < <(sed 's/#.*//' "$ROOT/project/spark-jars.txt")
CP=$ROOT/target/scala-2.13/classes
VERSIONED='^(.+)-([0-9]+\.[A-Za-z0-9_.]*(-[0-9]+)?)(-([A-Za-z].*))?\.jar$'
for jar in /opt/spark/jars/*.jar; do
  f=${jar##*/}; key=${f%.jar}
  if [[ $f =~ $VERSIONED ]]; then
    key=${BASH_REMATCH[1]}${BASH_REMATCH[5]:+-${BASH_REMATCH[5]}}
  fi
  [ -n "${KEEP[$key]}" ] && CP=$CP:$jar
done
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
