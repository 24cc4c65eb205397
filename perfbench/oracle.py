"""DuckDB oracle comparison of inventory query results.

The rules are the repository's own oracle check (`tools/oracle_check.py`,
whose table list, result reader, row normalisation and DECIMAL-column
rule are imported from it): the Spark result is read with pyarrow so its
dtypes survive, the oracle SQL runs in DuckDB over views named after the
tables, columns are sorted by name and rows by all columns, and shape,
dtype kind and values must agree. A DECIMAL column in a Spark result
fails. A query without oracle SQL gets a rows-only check: its result
must be readable. Unlike the script, this returns one verdict per query.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from oracle_check import TABLES, decimal_cols, normalize, read_spark  # noqa: E402


def _same(a, b):
    """One column against the oracle's, as `oracle_check.py` compares it."""
    if a.dtype.kind != b.dtype.kind:
        return False
    try:
        if a.dtype.kind == "f":
            return bool(((a.isna() & b.isna()) | (a == b)).all())
        if a.dtype.kind == "M":
            return a.astype("datetime64[us]").equals(b.astype("datetime64[us]"))
        return a.astype(str).equals(b.astype(str))
    except Exception:
        return a.astype(str).equals(b.astype(str))


def check(tables_dir, results_dir, names):
    """Compare each named result; return {name: (ok, rows, message)}."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(tables_dir, t + '.parquet')}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in names:
        try:
            spark_df = read_spark(os.path.join(results_dir, name))
            dec = decimal_cols(spark_df)
            if dec:
                out[name] = (False, len(spark_df), f"DECIMAL columns {dec}")
                continue
            if name not in oracle:
                out[name] = (True, len(spark_df), "rows only (no oracle SQL)")
                continue
            got = normalize(spark_df)
            want = normalize(con.sql(oracle[name]).df())
            if list(got.columns) != list(want.columns):
                msg = f"columns {list(got.columns)} vs {list(want.columns)}"
            elif got.shape != want.shape:
                msg = f"shape {got.shape} vs {want.shape}"
            else:
                bad = [c for c in got.columns if not _same(got[c], want[c])]
                msg = f"values differ in {bad}" if bad else ""
            out[name] = (msg == "", len(spark_df), msg or "oracle match")
        except Exception as e:  # a harness error fails the query
            out[name] = (False, -1, f"harness error: {e}")
    return out
