#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# runner (perfbench/src) into one class directory, using the Scala
# compiler that ships in Spark's jars directory; no sbt, no network.
#
#   bash perfbench/build.sh <spark-jars-dir> <out-dir>
#
# Run from the repository root. Skips the compile when the sources are
# unchanged since the last successful build into <out-dir>.
set -euo pipefail
jars=$1
out=$2
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
[ -f "$jars/scala-compiler-2.13.17.jar" ] ||
  { echo "build: no Scala 2.13.17 compiler in $jars" >&2; exit 2; }
srcs=$(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $srcs | sha256sum | cut -d' ' -f1)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -release 17 -d "$out" -classpath "$jars/*" $srcs
echo "$stamp" > "$out/.stamp"
