"""Check the harness's warm-up outputs against their DuckDB oracles.

Each op's output, written by the harness to `<check>/<op>/*.parquet`, is
compared with `SparkEntry.oracleSql(op)` run in DuckDB over the same
seeded fixture, using `tools/localcheck.py`'s rules: columns sorted by
name, rows sorted by every column, equal column names and row counts,
floats equal within 1e-9 absolute, everything else exactly equal.
"""
import glob
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
from localcheck import TABLES, norm  # noqa: E402

# The composed opset_store op reads its store back after putting every
# record whose id is a multiple of 10 with value + 1.5; the expected
# store is the Opset view of events (Opset.fromEvents) with that put.
STORE_SQL = """
WITH o AS (
  SELECT CAST(user_id AS VARCHAR) AS record,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS t,
         event_type, value, user_id
  FROM events)
SELECT record, t, event_type,
       CASE WHEN user_id % 10 = 0 THEN value + 1.5 ELSE value END AS value
FROM o"""


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str:
    """'' when equal under localcheck's rules, else the first difference."""
    a_df, b_df = norm(spark_df), norm(oracle_df)
    if list(a_df.columns) != list(b_df.columns):
        return f"cols spark={list(a_df.columns)} oracle={list(b_df.columns)}"
    if len(a_df) != len(b_df):
        return f"rows spark={len(a_df)} oracle={len(b_df)}"
    for c in a_df.columns:
        a, b = a_df[c], b_df[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            aa, bb = a.astype(float), b.astype(float)
            mism = ~(np.isclose(aa, bb, rtol=0, atol=1e-9) | (aa.isna() & bb.isna()))
        else:
            mism = ~((a == b) | (a.isna() & b.isna()))
        if mism.any():
            i = mism.idxmax()
            return f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r} ({int(mism.sum())} mismatches)"
    return ""


def check(fixture: Path, check_dir: Path, oracle_sql: dict, ops: list, tmp: Path):
    """({op: '' on a match, else the reason it failed}, {op: output rows})."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = Path(fixture) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out, rows = {}, {}
    for op in ops:
        sql = STORE_SQL if op == "opset_store" else oracle_sql.get(op)
        files = sorted(glob.glob(str(Path(check_dir) / op / "*.parquet")))
        if sql is None:
            out[op] = "no oracle"
        elif not files:
            out[op] = "no output written"
        else:
            try:
                got = pd.concat([pd.read_parquet(f) for f in files])
                rows[op] = len(got)
                out[op] = compare(got, con.execute(sql).fetchdf())
            except Exception as e:  # a broken oracle or output is a failed check
                out[op] = f"compare error: {str(e)[:300]}"
    con.close()
    return out, rows
