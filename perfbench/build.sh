#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's main sources together
# with the benchmark's own Scala sources into one class directory, with the
# Scala compiler and the Spark jars of the installed Spark distribution.
#
#   bash perfbench/build.sh [outDir]     (default: .bench_build/classes)
#
# SPARK_JARS overrides the jar directory; by default it is the directory
# build.sbt names as its unmanagedBase.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$root/build.sbt")}"
out="${1:-$root/.bench_build/classes}"
tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp"
find "$root/src/main/scala" "$here/scala" -name '*.scala' | sort > "$tmp.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$tmp" -classpath "$jars/*" "@$tmp.sources"
rm -f "$tmp.sources"
rm -rf "$out"
mv "$tmp" "$out"
