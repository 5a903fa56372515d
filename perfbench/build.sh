#!/usr/bin/env bash
# Compiles the engine (src/main/scala, with the Scala compiler and Spark
# jars of the root build.sbt's unmanagedBase) together with the benchmark
# harness (perfbench/src) into $OUT, default .bench_build/classes.
# Usage: bash perfbench/build.sh [out_dir]   (from the repository root)
set -euo pipefail
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here; run from the repository root" >&2; exit 2; }
SPARK_JARS="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)}"
OUT="${1:-.bench_build/classes}"
rm -rf "$OUT" && mkdir -p "$OUT"
LIST="$(dirname "$OUT")/sources.txt"
find src/main/scala perfbench/src -name '*.scala' | sort > "$LIST"
TMP="$(dirname "$OUT")/tmp"
mkdir -p "$TMP"
java -Xmx3g -Xss8m -XX:-UsePerfData -Djava.io.tmpdir="$TMP" -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -nowarn -d "$OUT" -classpath "$SPARK_JARS/*" "@$LIST"
