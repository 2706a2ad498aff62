#!/usr/bin/env bash
# Compiles the engine (src/main/scala) together with the benchmark harness
# (perfbench/src) into one class directory, using the Scala compiler that
# ships among the Spark jars. No sbt, no network.
#
#   SPARK_JARS=<spark jars dir> bash perfbench/build.sh <out-dir>
#
# Run from the repository root. Exits non-zero when the engine sources are
# missing or do not compile.
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
jars="${SPARK_JARS:?set SPARK_JARS to the Spark jars directory}"
if [ ! -f src/main/scala/graft/Main.scala ]; then
  echo "build.sh: engine sources (src/main/scala) not found under $(pwd)" >&2
  exit 3
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build.sh: no scala-compiler jar in $jars" >&2
  exit 3
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out.tmp" -classpath "$jars/*" "@$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
