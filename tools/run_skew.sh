#!/bin/bash
# Detached SkewBench launcher (round-21). Usage:
#   run_skew.sh <out.log> <SCALE_ONLY> [extra -D flags...]
# e.g. run_skew.sh /tmp/skew_on.log q_dedup_containment,q_dedup_ngram
#      run_skew.sh /tmp/skew_64k.log q_dedup_containment,q_dedup_ngram \
#        -Dspark.sql.adaptive.coalescePartitions.minPartitionSize=64k
if [ -z "$1" ] || [ -z "$2" ]; then
  echo "usage: run_skew.sh <out.log> <only> [-D...]" >&2; exit 2
fi
OUT="$1"; ONLY="$2"; shift 2
AO="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
export SPARK_GRAFT_SCALE_BASE="${SPARK_GRAFT_SCALE_BASE:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_GRAFT_SCALE_K="${SPARK_GRAFT_SCALE_K:-10}"
export SPARK_GRAFT_SCALE_ONLY="$ONLY"
exec java -cp "target/scala-2.13/classes:/opt/spark/jars/*" $AO \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx24g "$@" \
  graft.SkewBench > "$OUT" 2>&1
