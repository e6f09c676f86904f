#!/usr/bin/env bash
# Builds the engine (src/main) and the benchmark harness (perfbench/src)
# into OUT/engine and OUT/harness with the Scala compiler that ships in the
# Spark distribution, so a run needs no network and no sbt.
#
#   bash perfbench/build.sh OUT [SPARK_JARS]
set -euo pipefail
out="$1"
jars="${2:-/opt/spark/jars}"
root="$(cd "$(dirname "$0")/.." && pwd)"
tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp/engine" "$tmp/harness"
scalac() { java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"; }

mapfile -t engine < <(find "$root/src/main" -name '*.scala' -o -name '*.java' | sort)
scalac -d "$tmp/engine" -classpath "$jars/*" "${engine[@]}"
mapfile -t java_src < <(printf '%s\n' "${engine[@]}" | grep '\.java$' || true)
if [ "${#java_src[@]}" -gt 0 ]; then
  javac -J-XX:-UsePerfData -nowarn -d "$tmp/engine" -cp "$jars/*:$tmp/engine" "${java_src[@]}"
fi
if [ -d "$root/src/main/resources" ]; then
  cp -r "$root/src/main/resources/." "$tmp/engine/"
fi
scalac -d "$tmp/harness" -classpath "$jars/*:$tmp/engine" "$root"/perfbench/src/graftbench/*.scala
rm -rf "$out"
mv "$tmp" "$out"
