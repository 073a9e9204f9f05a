#!/usr/bin/env bash
# Run a graft main class directly against the compiled classes + Spark
# jars — no sbt build lock, so long rehearsals can run concurrently with
# interactive sbt work. Build first with
#   sbt compile "Compile / copyResources"
# (`sbt compile` alone leaves src/main/resources out of the class dir,
# and every main that touches SparkEntry then dies on a missing SQL
# resource); this script does NOT recompile.
#
# Usage: tools/run_jvm.sh <mainClass> [args...]
# Env:   JVM_MEM (default 8g) → -Xmx
#
# stdout/stderr are encoded as UTF-8 whatever the locale: with no LANG
# set, JDK 17 would print every non-ASCII character (the `×20` in
# PipeScale's stage names) as `?`. JDK 17 reads `sun.stdout.encoding`;
# the public `stdout.encoding` property only exists from JDK 19.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
if [[ ! -f target/scala-2.13/classes/tpcds/q01.sql ]]; then
  echo "run_jvm.sh: resources missing from target/scala-2.13/classes;" \
    "run: sbt compile \"Compile / copyResources\"" >&2
  exit 1
fi
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
       java.nio java.util java.util.concurrent java.util.concurrent.atomic)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
exec java "${FLAGS[@]}" \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${JVM_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
