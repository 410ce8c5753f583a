#!/bin/bash
# Forced-distributed correctness gate: dump every registry query through
# graft.Verify with spark.graft.smallBound=0, which turns every driver-side
# small-input fast path off (graft.core.SmallInput), then replay the DuckDB
# oracle over the dumps with tools/check_oracle.py. At small scale factors
# the default run mostly exercises the driver replicas; this run certifies
# the distributed loops that are the only code running at scale.
#
#   tools/run_distributed_gate.sh <sf_dir> [out_dir] [bound]
#
# bound: 0 (default) forces the distributed paths; any other integer sets
# the conf to it; "default" leaves the conf unset (each operator family's
# own bound — the plain Verify run). sbt-free: compiled classes (run
# `sbt compile` first) + the Spark jars build.sbt names as unmanagedBase.
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SF="${1:?usage: run_distributed_gate.sh <sf_dir> [out_dir] [bound]}"
VOUT="${2:-$REPO/target/distributed-gate}"
BOUND="${3:-0}"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SCALA_JAR=$(find "$HOME/.cache" "$HOME/.sbt" -name "scala-library-2.13.17.jar" 2>/dev/null | head -1)
SPARK_JARS="${SPARK_HOME:-/opt/spark}/jars"
CP="$REPO/target/scala-2.13/classes:$SCALA_JAR:$SPARK_JARS/*"
CONF=""
[ "$BOUND" != "default" ] && CONF="-Dspark.graft.smallBound=$BOUND"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
echo "=== verify $SF -> $VOUT (smallBound=$BOUND, cpus=$SPARK_GRAFT_CPUS) ==="
rm -rf "$VOUT"
java $ADDOPENS $CONF -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-4g}" -XX:+UseParallelGC -cp "$CP" graft.Verify "$SF" "$VOUT"
echo "=== oracle ==="
python3 "$REPO/tools/check_oracle.py" "$SF" "$VOUT"
