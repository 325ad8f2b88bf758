#!/usr/bin/env bash
# Build file of the benchmark: compiles the harness under perfbench/src
# together with the repository's main sources (the program under test)
# into OUT/classes, against the Spark jars in JARS, which also provide the
# Scala compiler. run.py calls it with the jars of the Spark install.
#
#   bash perfbench/build.sh OUT JARS
set -euo pipefail
out="$1"
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="$2"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out" \
  -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" "@$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
