"""Compares the corpus_suite outputs with DuckDB running each query's oracle
SQL on the same parquet files, by the rules of tools/selfcheck.py: the
same column names, the same rows after sorting (numbers compared rounded
to 9 places), and the same physical type class per column."""
import glob
import json
import os
import sys

import duckdb

# the repository's own comparison rules; no bytecode cache is left in tools/
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import norm, type_mismatches  # noqa: E402

TABLES = ("documents", "embeddings", "events")


def rows(table):
    cols = sorted(table.column_names)
    return cols, sorted(tuple(norm(r[c]) for c in cols) for r in table.to_pylist())


def compare_one(con, name, sql, out_dir):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return "no output parquet"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    exp = con.execute(sql).fetch_arrow_table()
    (gc, gr), (ec, er) = rows(got), rows(exp)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if gr != er:
        diff = [(g, e) for g, e in zip(gr, er) if g != e][:2]
        return f"{len(gr)} rows vs {len(er)}; first diffs {diff}"
    bad = type_mismatches(got, exp)
    if bad:
        return f"type classes differ: {bad}"
    if not gr:
        return "empty result"
    return None


def compare(data_dir, out_dir):
    """One check per query, in the shape run.py reports."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")  # the JVM has exited by now
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    checks = []
    for name, sql in sorted(oracles.items()):
        try:
            problem = compare_one(con, name, sql, out_dir)
        except Exception as e:  # an oracle or read error is a failed check
            problem = f"{type(e).__name__}: {e}"
        checks.append({"name": f"{name} matches the DuckDB oracle", "ok": problem is None,
                       "detail": problem or ""})
    con.close()
    return checks
