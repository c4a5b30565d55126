#!/usr/bin/env bash
# Run a compiled graft main directly on the Spark jars, BYPASSING the
# sbt project lock (one sbt command at a time; this lets a long soak
# run while sbt keeps compiling/testing). Round-13/14 idiom.
#
#   SPARK_GRAFT_CPUS=28 dev/spark_java.sh -Xmx32g graft.Verify /tmp/sf10 /tmp/out q33_ngram_jaccard
#   dev/spark_java.sh graft.devtools.Soak knn /tmp/sf10 1024000000 256
#   dev/spark_java.sh -Dspark.sql.autoBroadcastJoinThreshold=-1 graft.devtools.Prof /tmp/sf1 q124
#
# Leading -Xmx… and -D… arguments go to the JVM; SparkConf reads the
# -Dspark.* system properties as confs. A conf the session builder sets
# itself wins: set the shuffle width with SPARK_GRAFT_CPUS instead.
#
# CAUTION: do NOT `sbt compile` while one of these JVMs is running —
# it reads classfiles from target/scala-2.13/classes lazily.
set -euo pipefail
cd "$(dirname "$0")/.."
JVM_OPTS=()
while [[ "${1:-}" == -Xmx* || "${1:-}" == -D* ]]; do JVM_OPTS+=("$1"); shift; done
exec java "${JVM_OPTS[@]}" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
