#!/usr/bin/env bash
# Interleaved A/B panel of the repository benchmark between two checkouts.
#
#   tools/abpanel.sh PARENT CHANGE WORKLOAD PAIRS
#
# For pair i = 1..PAIRS, runs `perfbench/run.py --workload WORKLOAD
# --seed i --trace 0` once in PARENT and once in CHANGE; PARENT goes
# first on odd pairs, CHANGE on even ones. `--seconds` is the
# `run_seconds` of CHANGE's BENCHMARK.json. The panel's records are
# copied to a fresh temporary dir (printed first), so older records in
# either checkout do not enter the comparison; the dir is removed at
# exit when every run succeeded, and kept, with its path printed again,
# for the failed runs' logs otherwise. Prints
# `perfbench/compare.py` over the two sets (medians and PARENT's
# quartiles), then per end-to-end metric of BENCHMARK.json the pairs
# CHANGE won, and each side's failed share of operations. Exits with
# compare.py's status.
set -euo pipefail
if [ "$#" -ne 4 ]; then sed -n '2,18p' "$0" >&2; exit 2; fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
pairs=$4
secs=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1])).get("run_seconds", 6))' \
  "$change/BENCHMARK.json")
out=$(mktemp -d -t abpanel.XXXXXX)
mkdir -p "$out/parent" "$out/change"
echo "abpanel: records and logs in $out"
failed=0
cleanup() {
  if [ "$failed" -eq 0 ]; then rm -rf "$out"
  else echo "abpanel: a run failed; kept $out" >&2; fi
}
trap cleanup EXIT

run() { # side checkout seed
  local rec="$2/.bench_build/results/$workload-seed$3-trace0.json"
  if (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
        --seconds "$secs" --trace 0) >"$out/$1-seed$3.log" 2>&1; then
    cp "$rec" "$out/$1/"
  else
    echo "abpanel: $1 seed $3 failed, see $out/$1-seed$3.log" >&2
    failed=1
  fi
}

for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) -eq 1 ]; then
    run parent "$parent" "$i"; run change "$change" "$i"
  else
    run change "$change" "$i"; run parent "$parent" "$i"
  fi
  echo "abpanel: pair $i of $pairs done"
done

status=0
python3 "$change/perfbench/compare.py" "$out/parent" "$out/change" || status=$?

python3 - "$out" "$change/BENCHMARK.json" <<'EOF'
import glob, json, os, sys

out, bench = sys.argv[1], sys.argv[2]


def load(side):
    recs = (json.load(open(f)) for f in glob.glob(os.path.join(out, side, "*.json")))
    return {r["seed"]: r for r in recs}


parent, change = load("parent"), load("change")
seeds = sorted(set(parent) & set(change))
print(f"\n{len(seeds)} complete pairs")
for m in json.load(open(bench))["end_to_end"]:
    name, lower = m["name"], m.get("better", "lower") == "lower"
    a = [parent[s]["metrics"][name]["value"] for s in seeds]
    b = [change[s]["metrics"][name]["value"] for s in seeds]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    print(f"{name:14s} change won {wins}/{len(seeds)} pairs")
for side, recs in (("parent", parent), ("change", change)):
    failed = sum(r["failed"] for r in recs.values())
    attempted = sum(r["attempted"] for r in recs.values())
    print(f"failed_frac {side}: {failed}/{attempted}")
EOF
exit "$status"
