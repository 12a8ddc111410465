#!/usr/bin/env bash
# Count Scala code lines: non-blank lines of every *.scala file under the
# given dirs (default: src/main/scala), leaving out lines that start with
# `//` and every line of a block that starts with `/*` (scaladoc included)
# through the line that closes it. Prints one "<lines> <dir>" row per dir.
#
#   tools/loc.sh                              # src/main/scala
#   tools/loc.sh src/main/scala/graft/queries src/test/scala
set -euo pipefail
[ "$#" -gt 0 ] || set -- src/main/scala
for d in "$@"; do
  n=$(find "$d" -name '*.scala' -type f -print0 | sort -z |
    xargs -0 -r awk '
      FNR == 1 { inblock = 0 }
      {
        t = $0
        sub(/^[ \t]+/, "", t)
        if (inblock) { if (index(t, "*/")) inblock = 0; next }
        if (t == "" || substr(t, 1, 2) == "//") next
        if (substr(t, 1, 2) == "/*") {
          if (!index(substr(t, 3), "*/")) inblock = 1
          next
        }
        n++
      }
      END { print n + 0 }' | awk '{ s += $1 } END { print s + 0 }')
  echo "$n $d"
done
