#!/bin/bash
# Direct-JVM launcher for graft mains (bypasses the sbt lock so long
# fixture builds / anchors can run while sbt compiles elsewhere).
# usage: tools_run.sh [-mMEM] <mainClass> [args...]
# Runs the classes of the checkout this script sits in; every graft
# main takes its session settings from graft.core.Session.
MEM=${SPARK_DRIVER_MEM:-8g}
if [[ "$1" == -m* ]]; then MEM="${1#-m}"; shift; fi
# resources dir second: sbt copies resources into classes on compile,
# but a partial/cleaned target tree silently drops data files
# (graft/psl_default.dat) — the source resources are the fallback.
# Spark's jars: the directory build.sbt names as unmanagedBase.
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$HERE/build.sbt")"
CP="$HERE/target/scala-2.13/classes:$HERE/src/main/resources:$(ls "$JARS"/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx$MEM -cp "$CP" "$@"
