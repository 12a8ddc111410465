#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source into ``.bench_build/`` and generates the input
tables there with the program's own deterministic generator
(``graft.ScaleGen`` at 1x, sized like sf0.1); later runs reuse both
until a program source changes. Each run:

1. sets up in a cold JVM (session, table footer warm-up, one untimed
   pass over the workload that writes every query's result out), then
   runs one more untimed pass;
2. runs timed passes over the workload for ``--seconds`` seconds, at
   least three: one client, closed loop, queries in an order drawn
   from ``--seed``;
3. compares each result written in step 1 with the query's DuckDB
   oracle.

Before and after the JVM it times a fixed piece of work that does not
involve the program (``host_probe``), and it hashes the input tables;
both go into the run's record, so ``compare.py`` can tell a change in
the host's speed or in the inputs from a change in the program.

With ``--trace 0`` the last line of output is a JSON object holding the
end-to-end metrics; with ``--trace 1`` the listeners are registered on
alternate passes and it holds the per-layer metrics. README.md lists
the workloads, the metrics and how to read them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave the checkout as it was

import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"

# Why each workload exists: README.md.
WORKLOADS = {
    "oneshot": [
        "q06_latest_per_user", "q13_anti_join_orderless_customers",
        "q125_asof_join_nearest", "q127_ohlc_resample",
        "q153_band_join_left_outer", "q211_chi2_contingency",
    ],
    "maintain": ["q226_chi2_incremental", "q227_stream_chi2"],
}

ORDERS = 64          # seeded pass orders handed to the harness
HEAP = "3g"          # fixed (-Xms = -Xmx), so GC sizing does not follow host RAM
JVM_TIMEOUT_S = 170  # a run must end within 180 s
FIRST_TIMEOUT_S = 300  # build, table generation
PROBE_MB = 64        # host probe: one SHA-256 of this many MB per CPU, at once
PROBE_ROUNDS = 5

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(classpath, main, args, log_path, timeout, run_dir):
    """Runs one JVM to completion, its output to ``log_path``. Every file
    it writes stays inside ``run_dir`` (no perf-data file in /tmp)."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    dirs = {"java.io.tmpdir": "tmp", "spark.local.dir": "local",
            "spark.sql.warehouse.dir": "warehouse", "spark.graft.scratch.dir": "scratch"}
    for prop, sub in dirs.items():
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
        cmd.append(f"-D{prop}={run_dir / sub}")
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += ["-cp", os.pathsep.join([str(c) for c in classpath] + [str(SPARK_JARS / "*")]),
            main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = f"no exit within {timeout} s"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = Path(log_path).read_text(errors="replace").splitlines()[-30:]
        raise BenchError(f"{main}: {rc}\n" + "\n".join(tail))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with the Scala compiler that
    ships with Spark. Skipped when no input changed since the last build.
    Returns the classes and a hash of the program's sources."""
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise BenchError(f"no program sources under {main}")
    program = sorted(p for p in main.rglob("*") if p.is_file())
    inputs = program + sorted((HERE / "harness").glob("*.scala"))
    key = digest(inputs)
    classes = BUILD / "classes"
    stamp = classes / ".stamp"
    if stamp.is_file() and stamp.read_text() == key:
        return classes, digest(program)
    log("building the program and the harness")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    if (main / "resources").is_dir():
        shutil.copytree(main / "resources", tmp, dirs_exist_ok=True)
    run_dir = BUILD / "runs" / f"build-{os.getpid()}"
    try:
        java([], "scala.tools.nsc.Main",
             ["-usejavacp", "-nowarn", "-d", str(tmp)]
             + [str(f) for f in inputs if f.suffix == ".scala"],
             BUILD / "build.log", FIRST_TIMEOUT_S, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    (tmp / ".stamp").write_text(key)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes, digest(program)


def tables(classes, program):
    """The input tables, made by the program's deterministic generator
    (column arithmetic over hashed row ids). They are kept under the hash
    of the program's sources, so a change to the generator, or to
    anything it calls, makes new ones; tables of other sources are
    removed."""
    data = BUILD / "data" / program[:16]
    if (data / ".done").is_file():
        return data
    log("generating the input tables")
    tmp = BUILD / "data" / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    run_dir = BUILD / "runs" / f"gen-{os.getpid()}"
    try:
        java([classes], "graft.ScaleGen", [str(tmp), "1"], BUILD / "gen.log",
             FIRST_TIMEOUT_S, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    to_timestamp_micros(tmp / "events.parquet")
    (tmp / ".done").write_text("ScaleGen 1x\n")
    for old in (BUILD / "data").iterdir():
        if old != tmp:
            shutil.rmtree(old)
    tmp.rename(data)
    return data


def to_timestamp_micros(table):
    """ScaleGen stores ``events.ts`` as epoch nanoseconds; the corpus the
    oracles are written against (TESTDATA.md) stores TIMESTAMP micros.
    Rewrite the table in that layout; the engine reads both."""
    import duckdb

    out = table.with_suffix(".tmp")
    src = f"read_parquet('{table}/*.parquet')"
    with duckdb.connect() as con:
        if con.sql(f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()[0] != "BIGINT":
            return
        con.execute(f"COPY (SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM {src}) "
                    f"TO '{out}' (FORMAT PARQUET)")
    shutil.rmtree(table)
    out.rename(table)


def host_probe():
    """Milliseconds one fixed piece of work takes: a SHA-256 of the same
    ``PROBE_MB`` buffer on every CPU at once, median of ``PROBE_ROUNDS``.
    It does not involve the program, so it moves only with the host."""
    buf = bytes(PROBE_MB << 20)
    n = os.cpu_count() or 1
    times = []
    with ThreadPoolExecutor(n) as pool:
        for _ in range(PROBE_ROUNDS):
            t0 = time.perf_counter()
            list(pool.map(lambda _: hashlib.sha256(buf).digest(), range(n)))
            times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def steal_s():
    """CPU time the hypervisor took from this machine since boot
    (``/proc/stat``), or None where the kernel does not report it."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run(workload, seed, seconds, trace):
    names = WORKLOADS[workload]
    classes, program = build()
    data = tables(classes, program)
    host = {"probe_ms": [host_probe()], "corpus": oracle.corpus_digest(data)}
    steal0 = steal_s()
    run_dir = BUILD / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        orders = run_dir / "orders.txt"
        orders.write_text("".join(" ".join(metrics.pass_order(names, seed, i)) + "\n"
                                  for i in range(ORDERS + 1)))
        out = run_dir / "out"
        java([classes], "perfbench.Harness",
             ["--data", str(data), "--out", str(out), "--orders", str(orders),
              "--seconds", str(seconds), "--trace", str(trace)],
             run_dir / "harness.log", JVM_TIMEOUT_S, run_dir)
        samples = json.loads((out / "samples.json").read_text())
        trace_rec = json.loads((out / "trace.json").read_text()) if trace else None
        t0 = time.monotonic()
        checked = oracle.check(data, out / "check", samples["oracle"], names)
        samples["oracle_s"] = time.monotonic() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1 = steal_s()
    host["steal_s"] = None if steal0 is None else steal1 - steal0
    host["probe_ms"].append(host_probe())
    samples["host"] = host
    return samples, trace_rec, checked


def report(workload, seed, trace, samples, trace_rec, checked):
    execs = metrics.executions(samples)
    setup_execs = 2 * len(WORKLOADS[workload])
    setup_failed = samples["setup"]["failed"] + samples["settle"]["failed"]
    failed_execs = sum(1 for q in execs if not q["ok"])
    mismatched = sorted(n for n, why in checked.items() if why is not None)
    attempted = setup_execs + len(execs) + len(checked)
    failed = setup_failed + failed_execs + len(mismatched)
    for n in mismatched:
        log(f"check {n}: {checked[n]}")

    lines = []
    if trace:
        values, per_q = metrics.per_layer(samples, trace_rec)
        units = {k: u for k, (u, _) in metrics.PER_LAYER.items()}
        detail = {"per_query": [{"name": name, **rec} for name, rec in per_q.values()]}
    else:
        values, t = metrics.end_to_end(samples)
        units = dict(metrics.END_TO_END)
        heap = samples["heap_old_peak_mb"]
        detail = {"query_s_tail": t and {"value": t[0], "percentile": t[1], "n": t[2]},
                  "heap_live_peak_mb": heap}
        lines.append(("query_s_tail", f"{t[0]:.6g} s  (p{t[1]} of {t[2]} executions)" if t
                      else f"omitted  ({len(execs)} executions, fewer than 20)"))
        lines.append(("heap_live_peak_mb", f"{heap:.6g} MB"))
    lines.append(("failed_frac", f"{failed / attempted:.6g} ratio  ({failed} of {attempted})"))
    out = {k: {"value": values[k], "unit": units[k]} for k in units}
    for k, v in out.items():
        print(f"{workload:9s} {k:30s} {v['value']:.6g} {v['unit']}")
    for k, text in lines:
        print(f"{workload:9s} {k:30s} {text}")

    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = {"workload": workload, "seed": seed, "trace": trace,
              "attempted": attempted, "failed": failed, "metrics": out,
              **samples["host"],
              "setup": samples["setup"], "settle": samples["settle"],
              "gc_ms": samples["gc_ms"],
              "oracle_s": samples["oracle_s"],
              "passes": [{"pass_s": p["pass_s"], "traced": p["traced"],
                          "queries": [[q["name"], q["body_s"], q["sink_s"]] for q in p["queries"]]}
                         for p in samples["passes"]],
              **detail}
    (results / f"{workload}-seed{seed}-trace{trace}.json").write_text(json.dumps(record))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # unwind on SIGTERM too, so the JVM is killed and the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = report(a.workload, a.seed, a.trace,
                        *run(a.workload, a.seed, a.seconds, a.trace))
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
