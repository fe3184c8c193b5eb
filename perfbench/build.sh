#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine sources (src/main/scala)
# and the harness (perfbench/src) with the Scala compiler that ships in
# Spark's jars directory, into OUT/classes. Skips the compile when the
# sources are unchanged since the last build.
#
#   bash perfbench/build.sh OUT      (run from the repository root)
set -euo pipefail
out=${1:?usage: build.sh OUT}
jars="${SPARK_HOME:?SPARK_HOME must name the Spark installation}/jars"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala in $(pwd)" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$({ printf '%s\n' "${srcs[@]}"; cat "${srcs[@]}"; } | sha256sum | cut -d' ' -f1)
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
cp=$(printf '%s:' "$jars"/*.jar)
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -encoding UTF-8 \
  -classpath "$cp" -d "$out/classes" "${srcs[@]}"
echo "$stamp" > "$out/classes.stamp"
