#!/usr/bin/env bash
# Build file of the benchmark: compiles the repository's main sources and
# the benchmark's own sources into one jar with the Scala compiler that
# ships inside the Spark distribution (no sbt, no network).
#
#   bash perfbench/build.sh <out.jar>
#
# Spark's jars are found through SPARK_HOME, else next to `spark-submit`
# on the PATH; their directory is written to <out.jar>.jars. The source
# tree is the checkout that holds this script.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:?usage: build.sh <out.jar>}"
if [[ -n "${SPARK_HOME:-}" && -d "$SPARK_HOME/jars" ]]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(cd "$(dirname "$(command -v spark-submit)")/../jars" && pwd)"
fi
srcs=("$root/src/main/scala" "$root/perfbench/src/main/scala" "$root/perfbench/src/test/scala")
for d in "${srcs[@]}"; do
  [[ -d "$d" ]] || { echo "build.sh: missing source directory $d" >&2; exit 2; }
done
tmp="${out%.jar}.tmp.jar"
find "${srcs[@]}" -name '*.scala' | sort > "$out.sources"
rm -f "$tmp"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$tmp" @"$out.sources"
if [[ -d "$root/src/main/resources" ]]; then
  jar uf "$tmp" -C "$root/src/main/resources" .
fi
rm -f "$out.sources"
mv "$tmp" "$out"
echo "$jars" > "$out.jars"
