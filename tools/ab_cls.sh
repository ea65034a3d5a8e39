#!/bin/bash
# ab_cls.sh <classdir> <queries> <sfdir> <parts> <reps> <heap> <tag>
set -e
CLS=$1; Q=$2; SF=$3; PARTS=$4; REPS=$5; HEAP=$6; TAG=$7
ADDOPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
cd /root/repo
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} SPARK_GRAFT_REPS=$REPS \
SPARK_GRAFT_INITIAL_PARTS=$PARTS SPARK_GRAFT_ONLY="$Q" \
java $ADDOPENS -Xmx$HEAP -Xms$HEAP -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLS:/opt/spark/jars/*" graft.Bench 2>target/ab_${TAG}.log
cp target/bench.json target/ab_${TAG}.json
cp target/bench_runs.json target/ab_${TAG}_runs.json
echo "DONE $TAG"
