#!/usr/bin/env bash
# Builds the program (src/main/scala) together with the benchmark harness
# (perfbench/src) into one class directory, with the Scala compiler shipped
# in the Spark installation's jars. Run from the repository root:
#
#   bash perfbench/build.sh <output-class-dir> <spark-jars-dir>
#
# Exits non-zero when the program's sources are missing or do not compile.
set -euo pipefail
out="$1"
spark_jars="$2"
[ -d src/main/scala ] || { echo "build: src/main/scala not found" >&2; exit 2; }
[ -d "$spark_jars" ] || { echo "build: no Spark jars at $spark_jars" >&2; exit 2; }
mkdir -p "$(dirname "$out")"
tmp="$(mktemp -d "$out.tmp.XXXXXX")"
trap 'rm -rf "$tmp" "$tmp.sources"' EXIT
find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort > "$tmp.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$spark_jars/*" scala.tools.nsc.Main -nowarn \
  -d "$tmp" -classpath "$spark_jars/*" @"$tmp.sources"
# another build of the same sources may have finished first; keep that one
[ -d "$out" ] || mv "$tmp" "$out"
