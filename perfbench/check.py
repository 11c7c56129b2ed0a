"""Output check: a result the harness wrote as parquet against the rows
an expected SQL statement gives in DuckDB.

The comparison is the one graft's oracle gate (`scripts/selfcheck.py`)
makes, with its cell normalisation: the same set of column names, the
same row count, and the same cell values once columns are sorted by
name and rows by their full tuple.
"""
import glob
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from selfcheck import dtype_check, norm  # noqa: E402


def _rows(rel, cols, floats):
    ix = [rel.columns.index(c) for c in cols]
    return sorted(tuple(norm(r[i], f) for i, f in zip(ix, floats))
                  for r in rel.fetchall())


def compare(con, result_dir, sql, dtypes=False):
    """Return a list of mismatch messages (empty when the rows agree).
    With `dtypes`, the pandas dtype of every column must match too, as
    the oracle gate requires of registry rows."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return ["no result written"]
    got = con.sql(f"SELECT * FROM read_parquet({files!r})")
    want = con.sql(sql)
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: got {sorted(got.columns)} "
                f"want {sorted(want.columns)}"]
    if dtypes:
        msgs = dtype_check(con, sql, files)
        if msgs:
            return msgs
    cols = sorted(got.columns)
    types = dict(zip(got.columns, (str(t) for t in got.types)))
    floats = [types[c] in ("FLOAT", "DOUBLE") for c in cols]
    g, w = _rows(got, cols, floats), _rows(want, cols, floats)
    if len(g) != len(w):
        return [f"rows: got {len(g)} want {len(w)}"]
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    if bad:
        return [f"values: {len(bad)} rows differ; first got {bad[0][0]} "
                f"want {bad[0][1]}"]
    return []


def register_tables(con, data_dir):
    """Views over the input tables, named as the oracle SQL names them."""
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
