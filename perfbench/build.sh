#!/usr/bin/env bash
# Compiles the program (src/main/scala) and the benchmark (perfbench/src)
# with the Scala compiler that ships in Spark's jars into <build dir>/perfbench.jar.
# Usage: SPARK_HOME=<spark install> bash perfbench/build.sh <build dir>
# (run from the repo root)
set -euo pipefail
out="$1"
spark_jars="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
[ -d src/main/scala ] || { echo "build: src/main/scala not found; run from the repo root" >&2; exit 2; }
rm -rf "$out/classes"
mkdir -p "$out/classes"
compiler="$(ls "$spark_jars"/scala-compiler-*.jar "$spark_jars"/scala-library-*.jar "$spark_jars"/scala-reflect-*.jar | paste -sd:)"
find src/main/scala perfbench/src -name '*.scala' > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -cp "$spark_jars/*" @"$out/sources.txt"
# a jar, not a directory: class-data sharing archives only jar classpaths,
# and the archive of the previous build no longer matches
jar cf "$out/perfbench.jar" -C "$out/classes" .
rm -rf "$out/classes" "$out/classes.jsa"
