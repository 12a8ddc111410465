#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the per-run records that ``run.py`` writes to
``.bench_build/results/`` (one JSON file per run). Records are grouped
by workload and by traced/untraced. Two reports come out, kept apart
because they are read differently:

* counters (unit ``count``) that repeat exactly across every run of a
  side: any difference between the sides is a real change in work done,
  free of timing noise;
* everything else (times, sizes, ratios, and counters that vary from run
  to run): medians and quartiles of each side, the change of the medians
  as a share of the base median, and whether that change is larger than
  the base's own quartile spread. Times also get a host-adjusted change:
  each side's median divided by the median of its runs' host probe (a
  fixed piece of work timed before and after every run), a rough guide
  to whether the host, rather than the program, got slower or faster
  between the sets. It is not a metric: the probe follows the host's
  speed only in part (README.md, Steadiness).

Every record names the hash of the input tables it read. When the two
sides (or the runs of one side) read different inputs, the report says
so first and the exit status is 1: their times are not comparable.
"""
import json
import statistics
import sys
from pathlib import Path


def load(directory):
    """Metric values grouped by (workload, e2e|trace), the input hashes
    seen and every host probe reading."""
    groups, corpora, probes = {}, set(), []
    for f in sorted(Path(directory).glob("*.json")):
        r = json.loads(f.read_text())
        key = (r["workload"], "trace" if r["trace"] else "e2e")
        for name, m in r["metrics"].items():
            groups.setdefault(key, {}).setdefault(name, (m["unit"], []))[1].append(m["value"])
        corpora.add(r.get("corpus"))
        probes += r.get("probe_ms", [])
    return groups, corpora, probes


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(base, new, host=1.0):
    """``host``: the new side's host probe median over the base's."""
    counters, timings = [], []
    for key in sorted(set(base) & set(new)):
        for name in sorted(set(base[key]) & set(new[key])):
            unit, a = base[key][name]
            _, b = new[key][name]
            exact = unit == "count" and len(set(a)) == 1 and len(set(b)) == 1
            if exact:
                counters.append((key, name, a[0], b[0]))
                continue
            a1, a2, a3 = quartiles(a)
            b1, b2, b3 = quartiles(b)
            change = (b2 - a2) / a2 if a2 else None
            beyond = a2 and abs(change) > (a3 - a1) / a2
            adjusted = (b2 / host - a2) / a2 if a2 and unit in ("s", "ms") else None
            timings.append((key, name, unit, a2, a1, a3, b2, b1, b3, change,
                            beyond, adjusted, len(a), len(b)))
    return counters, timings


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    (base, base_in, base_probe), (new, new_in, new_probe) = load(argv[1]), load(argv[2])
    status = 0
    if len(base_in | new_in) > 1:
        print(f"!! the runs read different inputs: base {sorted(map(str, base_in))}, "
              f"new {sorted(map(str, new_in))}; times are not comparable\n")
        status = 1
    host = 1.0
    if base_probe and new_probe:
        host = statistics.median(new_probe) / statistics.median(base_probe)
        print(f"host probe: {statistics.median(base_probe):.4g} ms -> "
              f"{statistics.median(new_probe):.4g} ms ({host - 1:+.1%})\n")
    counters, timings = compare(base, new, host)
    print("== exact counters (repeat in every run of both sides)")
    for (w, kind), name, a, b in counters:
        mark = "CHANGED" if a != b else "same"
        print(f"{w:9s} {kind:5s} {name:30s} {a:>12g} -> {b:<12g} {mark}")
    print("\n== timings and other measured values: median [q1, q3], change vs base")
    for ((w, kind), name, unit, a2, a1, a3, b2, b1, b3, change, beyond, adjusted,
         na, nb) in timings:
        if a2:
            note = f"{change:+.1%}  " + ("beyond" if beyond else "within") + " base spread"
            if adjusted is not None:
                note += f", {adjusted:+.1%} host-adjusted"
        else:
            note = "base median 0"
        print(f"{w:9s} {kind:5s} {name:30s} {a2:.4g} [{a1:.4g}, {a3:.4g}] -> "
              f"{b2:.4g} [{b1:.4g}, {b3:.4g}] {unit}  {note}  (n={na}/{nb})")
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv))
