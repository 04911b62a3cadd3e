#!/bin/bash
# Direct-JVM bench runner (skips sbt startup).
# Usage: run_bench.sh [sfdir] [cpus, default nproc] [query-name filter]
SF=${1:-/root/testdata/sf0.1}
CPUS=${2:-$(nproc)}
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=$CPUS \
java $OPENS -Xmx${SPARK_DRIVER_MEM:-24g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench "$3"
