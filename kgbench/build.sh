#!/usr/bin/env bash
# Builds the program (src/main/scala) together with the benchmark
# (kgbench/src) with the Scala compiler that ships in Spark's jars.
# Output: .bench_build/kgbench/kgbench.jar. A stamp of the sources' hash
# skips the compile when nothing changed.
#
# Usage: bash kgbench/build.sh
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ -z "${SPARK_HOME:-}" ]]; then
  submit="$(command -v spark-submit || true)"
  [[ -n "$submit" ]] || { echo "build: set SPARK_HOME or put spark-submit on PATH" >&2; exit 2; }
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$submit")")/.." && pwd)"
fi
JARS="$SPARK_HOME/jars"
[[ -d src/main/scala && -d kgbench/src ]] || { echo "build: sources not found" >&2; exit 2; }

OUT=.bench_build/kgbench
mkdir -p "$OUT"
find src/main/scala kgbench/src -name '*.scala' | LC_ALL=C sort > "$OUT/sources.txt"
stamp="$(xargs sha256sum < "$OUT/sources.txt" | sha256sum | cut -d' ' -f1)"
if [[ -f "$OUT/stamp" && "$(cat "$OUT/stamp")" == "$stamp" && -f "$OUT/kgbench.jar" ]]; then
  exit 0
fi
rm -rf "$OUT/classes" "$OUT/stamp" "$OUT/kgbench.jar" "$OUT/classes.jsa"
mkdir -p "$OUT/classes"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$JARS/*" scala.tools.nsc.Main \
  -classpath "$JARS/*" -d "$OUT/classes" -nowarn @"$OUT/sources.txt"
# a jar, not a directory: class-data sharing only archives classes from jars
(cd "$OUT/classes" && jar cf ../kgbench.jar .)
echo "$stamp" > "$OUT/stamp"
