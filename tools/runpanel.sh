#!/usr/bin/env bash
# Interleaved wall-time panel of registry queries between two checkouts.
#
#   tools/runpanel.sh PARENT CHANGE SFDIR QUERY...
#
# Builds each checkout with its own `perfbench/run.py` build (classes
# under `.bench_build/classes`, reused while its sources are unchanged),
# then runs six JVMs in the order PARENT CHANGE CHANGE PARENT PARENT
# CHANGE. Each JVM is one `graft.RunSome SFDIR QUERY... QUERY...`: the
# list twice in one warm session, so the second run of a query is its
# steady state. Prints every run, then per query and side the min and
# max of the second runs over that side's three JVMs: the change is not
# slower when its min is at most the parent's min plus the parent's own
# spread (max - min). The logs are kept in a temporary dir, removed at
# exit when every JVM succeeded and printed otherwise. QUERY may be a
# unique name prefix, as RunSome takes it.
set -euo pipefail
if [ "$#" -lt 4 ]; then sed -n '2,16p' "$0" >&2; exit 2; fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
sf=$(cd "$3" && pwd)
shift 3
out=$(mktemp -d -t runpanel.XXXXXX)
status=0
cleanup() {
  if [ "$status" -eq 0 ]; then rm -rf "$out"
  else echo "runpanel: logs kept in $out" >&2; fi
}
trap cleanup EXIT

runsome() { # side checkout jvm-index queries...
  local side=$1 root=$2 k=$3
  shift 3
  mkdir -p "$out/$side$k"
  PYTHONDONTWRITEBYTECODE=1 python3 - "$root" "$out/$side$k" "$sf" "$@" "$@" \
    2>"$out/$side$k/build.log" <<'EOF' || { cat "$out/$side$k/build.log" >&2; return 1; }
import pathlib, sys

root, out, sf, *queries = sys.argv[1:]
sys.path.insert(0, str(pathlib.Path(root) / "perfbench"))
import run  # noqa: E402

classes, _ = run.build()
out = pathlib.Path(out)
run.java([classes], "graft.RunSome", [sf] + queries, out / "runsome.log",
         3600, out / "run")
EOF
  grep '^\[runsome\] q' "$out/$side$k/runsome.log" | sed "s/^/$side jvm$k /"
}

k=0
for side in parent change change parent parent change; do
  k=$((k + 1))
  if [ "$side" = parent ]; then runsome parent "$parent" "$k" "$@" || status=1
  else runsome change "$change" "$k" "$@" || status=1; fi
done

python3 - "$out" <<'EOF'
import collections, glob, os, re, sys

second = collections.defaultdict(list)  # (side, query) -> second-run seconds
for log in sorted(glob.glob(os.path.join(sys.argv[1], "*", "runsome.log"))):
    side = re.match(r"[a-z]+", os.path.basename(os.path.dirname(log))).group(0)
    seen = collections.Counter()
    for m in re.finditer(r"^\[runsome\] (\S+): ([0-9.]+) s$", open(log).read(), re.M):
        seen[m.group(1)] += 1
        if seen[m.group(1)] == 2:
            second[(side, m.group(1))].append(float(m.group(2)))
print(f"\n{'query':40s} {'parent min':>10s} {'max':>7s} {'change min':>10s} {'max':>7s}  verdict")
for q in sorted({q for _, q in second}):
    p, c = second[("parent", q)], second[("change", q)]
    if not p or not c:
        print(f"{q:40s} missing runs")
        continue
    ok = min(c) <= min(p) + (max(p) - min(p))
    print(f"{q:40s} {min(p):10.2f} {max(p):7.2f} {min(c):10.2f} {max(c):7.2f}  "
          + ("within spread" if ok else "SLOWER"))
EOF
exit "$status"
