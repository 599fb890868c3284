#!/bin/bash
# Run graft.Verify directly (faster than sbt runMain)
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/vout}
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Duser.timezone=UTC -Dspark.ui.enabled=false -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" graft.Verify "$SF" "$OUT" "${@:3}"
