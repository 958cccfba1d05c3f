"""Result check for one benchmark run.

A statement with a DuckDB oracle (`SparkEntry.oracleSql`) passes when its
result matches the oracle under graft's own gate rules (tools/check.py):
the same column names, dtypes, row count and values, row by row. A
statement without an oracle passes when it has rows and its result digest
is the same in every pass that wrote it.
"""
import glob
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq

from gen import TABLES


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _rows(df):
    return [tuple(_cell(v) for v in r) for r in df.itertuples(index=False)]


def _read(con, d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise RuntimeError(f"no result files in {d}")
    return con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def _against_oracle(con, got_dir, sql):
    got = _read(con, got_dir)
    want = con.sql(sql).fetchdf()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    got, want = got[gc], want[wc]
    gd, wd = list(map(str, got.dtypes)), list(map(str, want.dtypes))
    if gd != wd:
        return f"dtypes {list(zip(gc, gd, wd))}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g, w = _rows(got), _rows(want)
    if g != w:
        bad = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return f"row {bad} differs: {g[bad]} vs {w[bad]}"
    return None


def _repeats(con, dirs):
    digests = set()
    for d in dirs:
        rows = _read(con, d)
        if len(rows) == 0:
            return f"no rows in {os.path.basename(d)}"
        digests.add(hashlib.sha256(
            repr(sorted(map(repr, _rows(rows)))).encode()).hexdigest())
    if len(dirs) < 2:
        return "result written only once"
    return None if len(digests) == 1 else f"{len(digests)} distinct digests"


def check(data_dir, check_dir, statements, oracle_sql, errors):
    """Map of statement -> failure reason, for the statements that fail."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    passes = sorted(os.listdir(check_dir)) if os.path.isdir(check_dir) else []
    failures = {}
    for s in statements:
        if s in errors:
            failures[s] = "threw: " + errors[s]
            continue
        dirs = [os.path.join(check_dir, p, s) for p in passes
                if os.path.isdir(os.path.join(check_dir, p, s))]
        try:
            if s in oracle_sql:
                why = _against_oracle(con, dirs[0], oracle_sql[s]) if dirs \
                    else "no result"
            else:
                why = _repeats(con, dirs)
        except Exception as e:  # a result DuckDB cannot read is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            failures[s] = why
    con.close()
    return failures


def table_rows(data_dir):
    """Rows of each input table."""
    return {t: pq.read_metadata(os.path.join(data_dir, t + ".parquet")).num_rows
            for t in TABLES}


def result_rows(check_dir, statements):
    """Rows of each statement's result, as the warm-up pass wrote it."""
    return {s: sum(pq.read_metadata(f).num_rows for f in
                   glob.glob(os.path.join(check_dir, "0", s, "*.parquet")))
            for s in statements}
