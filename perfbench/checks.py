"""Output checks against DuckDB over the same parquet files.

- /query/ replies: the JSON body of each distinct request is compared
  with the rows DuckDB returns for the same SQL (in order when the SQL
  orders its rows, as a multiset otherwise).
- engine_suite: each entry's parquet output is compared with its
  `oracleSql` exactly as the repo's oracle gate does: same columns and
  dtypes, same row count, same rows in the same order, floats bitwise.
"""
import datetime
import decimal
import json
import math

import duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _norm_json(v):
    """A value from the engine's JSON reply, in DuckDB's Python types."""
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
        try:
            return datetime.datetime.fromisoformat(
                v.replace("Z", "+00:00")).replace(tzinfo=None)
        except ValueError:
            return v
    return v


def _same(got, exp):
    if isinstance(exp, float):
        g = float(got)
        return g == exp or (math.isnan(g) and math.isnan(exp)) or \
            math.isclose(g, exp, rel_tol=1e-12, abs_tol=0.0)
    if isinstance(exp, decimal.Decimal):
        return decimal.Decimal(str(got)) == exp
    if isinstance(exp, bool) or isinstance(exp, int):
        return got == exp
    return _norm_json(got) == exp


def check_reply(con, sql, body, ordered):
    """None when the reply body equals DuckDB's result, else a reason."""
    try:
        rows = json.loads(body, parse_float=decimal.Decimal)
    except ValueError as e:
        return f"body does not parse: {e}"
    rel = con.sql(sql)
    cols, exp = rel.columns, rel.fetchall()
    if not isinstance(rows, list) or len(rows) != len(exp):
        return f"rows {len(rows) if isinstance(rows, list) else '?'} != {len(exp)}"
    got = []
    for r in rows:
        if set(r) != set(cols):
            return f"columns {sorted(r)} != {sorted(cols)}"
        got.append([r[c] for c in cols])
    if not ordered:
        key = lambda row: json.dumps([str(_norm_json(x)) for x in row])
        got.sort(key=key)
        exp = sorted(exp, key=lambda row: json.dumps([str(x) for x in row]))
    for i, (g, e) in enumerate(zip(got, exp)):
        if not all(_same(a, b) for a, b in zip(g, e)):
            return f"row {i}: {g} != {e}"
    return None


def _nan(v):
    return "nan" if isinstance(v, float) and math.isnan(v) else v


def check_entry(con, out_dir, sql):
    """(rows, reason): reason is None when the entry's parquet output
    matches its oracle."""
    try:
        got = con.sql(f"SELECT * FROM '{out_dir}/*.parquet'")
        got_cols, got_rows = got.columns, got.fetchall()
        exp = con.sql(sql)
        exp_cols, exp_rows = exp.columns, exp.fetchall()
        gdf = con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").df()
        edf = con.sql(sql).df()
    except Exception as e:  # an unreadable output is a failed check
        return 0, f"error {e}"
    gd = {c: str(gdf[c].dtype) for c in gdf.columns}
    ed = {c: str(edf[c].dtype) for c in edf.columns}
    if gd != ed:
        return len(got_rows), f"dtypes {gd} != {ed}"
    if sorted(got_cols) != sorted(exp_cols):
        return len(got_rows), f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return len(got_rows), f"rows {len(got_rows)} != {len(exp_rows)}"
    idx = [got_cols.index(c) for c in exp_cols]
    for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
        if tuple(_nan(g[j]) for j in idx) != tuple(_nan(x) for x in e):
            return len(got_rows), f"row {i} differs"
    return len(got_rows), None
