#!/bin/bash
# Run a graft main class without sbt (dev utility — same JVM flags as
# build.sbt's forked run). Build first with `sbt compile copyResources`:
# classes AND resources (the graft-versioned data source registration, the
# served checkpoints) are read from target/scala-2.13/classes.
# Usage: tools/run_class.sh <main> [args...]
#   mains: graft.Bench, graft.Verify <sfDir> <outDir> [q1,q2,...],
#          graft.Explain [sfDir] [query ...],
#          graft.DebugProbe [-c key=value ...] query ...,
#          graft.ScaleBench, graft.tools.TrainCheckpoint [sfDir ...]
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$(dirname "$0")/../target/scala-2.13/classes:/opt/spark/jars/*" "$@"
