#!/usr/bin/env bash
# Compiles the program (src/main/scala), the benchmark harness
# (perfbench/src) and its tests (perfbench/tests) into one class
# directory with the Scala compiler that ships in Spark's jars. Run from
# the repository root:
#
#   bash perfbench/build.sh .bench_build/perfbench
#
# Skips the compile when the sources' hash matches the last build's.
set -euo pipefail
out="${1:?usage: build.sh OUT_DIR}"
# Spark's jars: under $SPARK_HOME, else where build.sbt's unmanagedBase is
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
mapfile -t srcs < <(find src/main/scala perfbench/src perfbench/tests -name '*.scala' | LC_ALL=C sort)
stamp="$( (printf '%s\n' "${srcs[@]}"; cat "${srcs[@]}") | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then exit 0; fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" "${srcs[@]}"
echo "$stamp" > "$out/stamp"
