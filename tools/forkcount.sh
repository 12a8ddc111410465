#!/usr/bin/env bash
# Count the processes Hadoop's local FileSystem forks, per query.
#
#   tools/forkcount.sh <sfDir> <query> [<query> ...]
#
# Without native Hadoop IO, RawLocalFileSystem shells out to `chmod` to
# set a permission and to `ls -ld` to read one. This puts logging
# `chmod` and `ls` wrappers first on PATH, runs the named queries in
# order in one JVM through graft.RunSome (names may be unique prefixes;
# repeat a name to count a warm execution too) and prints, per query,
# the forks made between the end of the previous query and its own end.
# Forks before the first query (session start, table warm-up) are
# reported as `setup`. Run from the root of the checkout; the classpath
# comes from sbt (pass offline settings through SBT_OPTS as usual).
set -euo pipefail
[ $# -ge 2 ] || { sed -n '2,14p' "$0"; exit 2; }
sf=$1; shift

work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
mkdir "$work/bin"
log="$work/log"
: > "$log"
for cmd in chmod ls; do
  real=$(command -v "$cmd")
  printf '#!/bin/sh\necho "fork %s" >> "%s"\nexec %s "$@"\n' \
    "$cmd" "$log" "$real" > "$work/bin/$cmd"
  chmod +x "$work/bin/$cmd"
done

cp=$(sbt --batch -Dsbt.log.noformat=true "export Runtime/fullClasspath" | tail -n 1)
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
         sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

# RunSome's stdout and the wrappers append to one file, so every fork
# lands before or after the line that closes its query, in order.
PATH="$work/bin:$PATH" java "${opens[@]}" "-Xmx${SPARK_DRIVER_MEM:-4g}" \
  -Dspark.ui.enabled=false -cp "$cp" graft.RunSome "$sf" "$@" >> "$log"

awk '
  /^fork / { n[$2]++; next }
  /^\[runsome\] / {
    name = ($2 == "tables") ? "setup" : substr($2, 1, length($2) - 1)
    printf "%-40s chmod %5d   ls %5d\n", name, n["chmod"], n["ls"]
    tc += (name == "setup") ? 0 : n["chmod"]; tl += (name == "setup") ? 0 : n["ls"]
    delete n
  }
  END { printf "%-40s chmod %5d   ls %5d\n", "queries total", tc, tl }
' "$log"
