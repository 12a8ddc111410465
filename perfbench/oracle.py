"""Output check: each workload query's result against its DuckDB oracle.

The harness writes every query's result as parquet under
``<check_dir>/<name>/``, with the query's ``SparkEntry.oracleSql`` text.
This replays each oracle in DuckDB over the same tables and judges the
two results by the repository's correctness gate, ``tools/compare.py``
(same column names, same row count, rows sorted and compared as text,
doubles by ``repr``), so the benchmark and the gate agree on what is
correct. The gate sorts rows in Python, which on 4 cores took 3.6-4.8 s
per ``oneshot`` run; results with the same column names and types and
the same rows pass it, and checking that inside DuckDB took 0.9 s, so
that is done first and only results that differ there go to the gate.
"""
import functools
import hashlib
import importlib.util
from pathlib import Path

GATE = Path(__file__).resolve().parent.parent / "tools" / "compare.py"


@functools.lru_cache(maxsize=None)
def gate():
    """The repository's correctness gate, ``tools/compare.py``, as a module."""
    spec = importlib.util.spec_from_file_location("repo_compare", GATE)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def views(con, data_dir):
    """One view per input table, named as in the oracles."""
    for t in gate().TABLES:
        # a table is one parquet file, or a directory of part files
        path = Path(data_dir) / f"{t}.parquet"
        pattern = path / "*.parquet" if path.is_dir() else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    return con


def corpus_digest(data_dir):
    """A hash of the input tables' contents (row count and an
    order-independent sum of row hashes per table), so two runs can be
    checked to have read the same inputs."""
    import duckdb

    h = hashlib.sha256()
    with views(duckdb.connect(), data_dir) as con:
        for t in gate().TABLES:
            n, s = con.sql(f"SELECT count(*), sum(hash(x)) FROM {t} x").fetchone()
            h.update(f"{t} {n} {s}\n".encode())
    return h.hexdigest()[:16]


def same_rows(con, got_sql, exp_sql):
    """True when both results have the same columns, of the same types,
    and the same multiset of rows, every value cast to text (a double
    becomes its shortest round-tripping text, so this is exact)."""
    got, exp = con.sql(got_sql), con.sql(exp_sql)
    if sorted(zip(got.columns, map(str, got.types))) != sorted(zip(exp.columns, map(str, exp.types))):
        return False
    text = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in sorted(got.columns))
    for table, sql in (("got", got_sql), ("exp", exp_sql)):
        con.execute(f"CREATE OR REPLACE TEMP TABLE {table} AS SELECT {text} FROM ({sql})")
    n_got, n_exp = (con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "exp"))
    return n_got == n_exp and not con.sql(
        "SELECT * FROM got EXCEPT ALL SELECT * FROM exp LIMIT 1").fetchall()


def mismatch(con, got_sql, exp_sql):
    """None when the two queries' results pass the gate, else its reason."""
    if same_rows(con, got_sql, exp_sql):
        return None
    why = gate().compare("", con.sql(got_sql).df(), con.sql(exp_sql).df())
    return None if why is None or why.startswith("OK") else why


def check(data_dir, check_dir, oracles, names):
    """Returns {name: None | reason} for every name; a query without an
    oracle or whose result is missing counts as a failure."""
    import duckdb

    con = views(duckdb.connect(), data_dir)
    out = {}
    for name in names:
        if name not in oracles:
            out[name] = "no oracle"
            continue
        try:
            out[name] = mismatch(
                con, f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')", oracles[name])
        except Exception as e:  # noqa: BLE001 -- any failure is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out
