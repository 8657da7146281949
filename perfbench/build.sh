#!/usr/bin/env bash
# Builds the graft program (src/main) and the benchmark (perfbench/src)
# with the Scala compiler that ships in the Spark distribution's jars
# ($SPARK_HOME/jars), into OUT_DIR/program and OUT_DIR/bench.
#
# Usage (from the repository root): perfbench/build.sh OUT_DIR
set -euo pipefail

out=$1
jars="$SPARK_HOME/jars"
tmp="$out.partial"
rm -rf "$tmp"
mkdir -p "$tmp/program" "$tmp/bench"

scalac() { java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"; }

find src/main -name '*.scala' -o -name '*.java' | sort > "$tmp/sources"
scalac -d "$tmp/program" -cp "$jars/*" "@$tmp/sources"
if grep -q '\.java$' "$tmp/sources"; then
  grep '\.java$' "$tmp/sources" > "$tmp/java-sources"
  javac -nowarn -d "$tmp/program" -cp "$jars/*:$tmp/program" "@$tmp/java-sources"
fi
if [ -d src/main/resources ]; then cp -R src/main/resources/. "$tmp/program/"; fi

scalac -d "$tmp/bench" -cp "$jars/*:$tmp/program" perfbench/src/*.scala

rm -rf "$out"
mv "$tmp" "$out"
