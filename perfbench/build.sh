#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine sources
# (src/main/scala of the checkout this directory sits in) together with the
# harness (perfbench/src) into perfbench/.build/classes, using the Scala
# compiler and Spark jars of the Spark distribution at $SPARK_HOME (found
# through spark-submit on PATH when unset).
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
scala_cp="$(printf '%s:' "$jars"/scala-compiler-*.jar "$jars"/scala-library-*.jar "$jars"/scala-reflect-*.jar)"
out="$here/.build/classes"
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' > "$here/.build/sources.txt"
mkdir -p "$here/.build/tmp"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$here/.build/tmp" \
  -cp "$scala_cp" scala.tools.nsc.Main -nowarn -d "$out.tmp" \
  -classpath "$jars/*" "@$here/.build/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
