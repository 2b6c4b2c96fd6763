#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine sources
# (src/main/scala) together with the benchmark's own (perfbench/src) using
# the Scala compiler shipped in Spark's jar directory. Skips the compile
# when no source changed since the last build.
#
#   bash perfbench/build.sh        # from the repository root
#
# Output: .bench_build/perfbench/classes, plus classes/.jars naming the jar
# directory run.py puts on the classpath. The jar directory is the one the
# repository's build.sbt compiles against (`unmanagedBase`); SPARK_JARS
# overrides it.
set -euo pipefail
cd "$(dirname "$0")/.."
out=.bench_build/perfbench/classes
if [ ! -d src/main/scala/graft ] || [ ! -f build.sbt ]; then
  echo "build.sh: engine sources (src/main/scala/graft, build.sbt) not found" >&2
  exit 2
fi
jars="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)}"
if [ ! -d "$jars" ]; then
  echo "build.sh: Spark jar directory '$jars' not found" >&2
  exit 2
fi
mapfile -t sources < <(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp=$( (cat "${sources[@]}" perfbench/build.sh; echo "$jars") | sha256sum | cut -d' ' -f1)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out" "${sources[@]}"
echo "$jars" > "$out/.jars"
echo "$stamp" > "$out/.stamp"
