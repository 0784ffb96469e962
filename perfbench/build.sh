#!/usr/bin/env bash
# Build file of the benchmark. Compiles the program (src/main/scala) and the
# benchmark harness (perfbench/src) into one class directory with the Scala
# compiler that ships in Spark's jar directory; skips the compile when no
# source changed since the last build.
#
# Usage (from the repository root): bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR
set -euo pipefail
out="${1:?usage: build.sh OUT_DIR SPARK_JARS_DIR}"
jars="${2:?usage: build.sh OUT_DIR SPARK_JARS_DIR}"
if [ ! -d src/main/scala ]; then
  echo "build.sh: no src/main/scala under $(pwd): run from the repository root" >&2
  exit 2
fi
compgen -G "$jars/scala-compiler-*.jar" >/dev/null || {
  echo "build.sh: no scala-compiler jar in $jars" >&2; exit 2; }
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp=$({ printf '%s\n' "${srcs[@]}"; cat "${srcs[@]}"; } | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" "${srcs[@]}"
echo "$stamp" > "$out/stamp"
