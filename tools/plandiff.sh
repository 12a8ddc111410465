#!/usr/bin/env bash
# Physical-plan diff of registry queries between two checkouts.
#
#   tools/plandiff.sh PARENT CHANGE SFDIR QUERY...
#
# In each checkout, builds the program with that checkout's own
# `perfbench/run.py` build (classes under `.bench_build/classes`, reused
# while its sources are unchanged) and runs `graft.Explain SFDIR OUT
# QUERY...` on those classes. The ids that differ from run to run are
# normalised (expression ids `#123` -> `#N`, `plan_id=45` ->
# `plan_id=N`, the run's own output dir -> `<OUT>`), then the plans are
# diffed query by query. Prints nothing and exits 0 when every plan is
# equal; prints a unified diff per differing query, or the name of a
# query without a plan on one side, and exits 1 otherwise (a failed
# build also prints its log). The plans and logs are kept in a
# temporary dir, removed at exit when every plan is equal and printed
# otherwise.
set -euo pipefail
if [ "$#" -lt 4 ]; then sed -n '2,17p' "$0" >&2; exit 2; fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
sf=$(cd "$3" && pwd)
shift 3
out=$(mktemp -d -t plandiff.XXXXXX)
status=0
cleanup() {
  if [ "$status" -eq 0 ]; then rm -rf "$out"
  else echo "plandiff: plans and logs kept in $out" >&2; fi
}
trap cleanup EXIT

explain() { # checkout outdir queries...
  local root=$1 dir=$2
  shift 2
  mkdir -p "$dir"
  PYTHONDONTWRITEBYTECODE=1 python3 - "$root" "$dir" "$sf" "$@" \
    2>"$dir/build.log" <<'EOF' || { cat "$dir/build.log" >&2; return 1; }
import pathlib, sys

root, out, sf, *queries = sys.argv[1:]
sys.path.insert(0, str(pathlib.Path(root) / "perfbench"))
import run  # noqa: E402

classes, _ = run.build()
out = pathlib.Path(out)
run.java([classes], "graft.Explain", [sf, str(out)] + queries,
         out / "explain.log", 1800, out / "run")
EOF
}

norm() { # plan-file side-dir
  sed -E -e 's/#[0-9]+/#N/g' -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e "s#$2#<OUT>#g" "$1"
}

explain "$parent" "$out/parent" "$@" || status=1
explain "$change" "$out/change" "$@" || status=1
for q in "$@"; do
  p="$out/parent/$q.txt"
  c="$out/change/$q.txt"
  if [ ! -f "$p" ] || [ ! -f "$c" ]; then
    echo "plandiff: $q: no plan in $([ -f "$p" ] && echo CHANGE || echo PARENT)"
    status=1
  elif ! diff -u --label "PARENT/$q" --label "CHANGE/$q" \
      <(norm "$p" "$out/parent") <(norm "$c" "$out/change"); then
    status=1
  fi
done
exit "$status"
