"""Bit-exact check of each key's rows against its DuckDB oracle SQL.

The comparison is the one in tools/check_oracle.py: same column set, same
row count, rows sorted on every column, floats compared by IEEE bit
pattern (NaN equals NaN), everything else by string form.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def diff(got, want):
    """Empty string when the frames match, else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"schema {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    problems = []
    for c in cols:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            ga = gv.astype("float64").to_numpy()
            wa = wv.astype("float64").to_numpy()
            bad = ~((ga.view("int64") == wa.view("int64"))
                    | (np.isnan(ga) & np.isnan(wa)))
            if bad.any():
                i = int(np.argmax(bad))
                problems.append(f"col {c} bit-mismatch ({int(bad.sum())} rows;"
                                f" first: {ga[i]!r} vs {wa[i]!r} at sorted row {i})")
        elif not (gv.astype(str) == wv.astype(str)).all():
            problems.append(f"col {c} mismatch")
    return "; ".join(problems)


def check(data_dir, out_dir, keys, threads, tmp):
    """({key: "" if its rows match the oracle, else the reason},
    {key: number of rows the program wrote, or None})."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    result, rows = {}, {}
    for k in keys:
        files = glob.glob(os.path.join(out_dir, "rows", k, "*.parquet"))
        if not sql.get(k):
            result[k] = "no oracle SQL"
        elif not files:
            result[k] = "no rows written"
        else:
            try:
                got = pq.read_table(files).to_pandas()
                rows[k] = len(got)
                result[k] = diff(got, con.execute(sql[k]).df())
            except Exception as e:  # an oracle error is a failed check
                result[k] = f"check raised {type(e).__name__}: {e}"
    con.close()
    return result, {k: rows.get(k) for k in keys}
