#!/bin/bash
# Run a graft tool main via plain java (no sbt lock). Usage:
#   tools/run_probe.sh <MainClass> [args...]
# e.g. the daemon soak harness:
#   tools/run_probe.sh graft.tools.Soak <doc|emb|media> [nBatches] [perBatch]
JOPTS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# classes of the checkout this script sits in (a copy runs its own build);
# Spark's jars from $SPARK_HOME
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
exec java $JOPTS -Xmx${SPARK_DRIVER_MEM:-8g} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME}/jars/*" "$@"
