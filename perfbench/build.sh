#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together with
# the benchmark runner (perfbench/src) into $CARGO_TARGET_DIR/classes
# (default .bench_build/classes, relative to the repository root), using the
# Scala compiler that ships in the Spark distribution, and writes the run
# class path to $CARGO_TARGET_DIR/classpath. The Spark jars are
# $SPARK_HOME/jars, else the unmanagedBase of the repository's build.sbt.
# Skips the compile when no source changed since the last build.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
cd "$root"
out="${CARGO_TARGET_DIR:-.bench_build}"
[ -d src/main/scala/graft ] || { echo "build.sh: graft sources not found" >&2; exit 2; }
if [ -n "${SPARK_HOME:-}" ]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)"
fi
[ -d "$jars" ] || { echo "build.sh: Spark jars not found ('$jars')" >&2; exit 2; }
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp="$( (echo "$jars"; cat "${srcs[@]}") | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -d "$out/classes" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" "${srcs[@]}" >&2
echo "$(cd "$out" && pwd)/classes:$jars/*" > "$out/classpath"
echo "$stamp" > "$out/stamp"
