"""Checks `operator_suite` results against the DuckDB oracles of
`SparkEntry.oracleSql`.

Each query result (a parquet directory written by the Spark side) must hold
exactly the rows its oracle computes over the same input tables, compared as
sorted row multisets with columns matched by name. The query without
an oracle is rows-only: it must match the row count of its hash-checked
twin.
"""

import os

import duckdb

TABLES = ("documents", "embeddings", "events", "lineitem", "orders", "customer",
          "part", "supplier", "nation", "region")

# rows-only query -> SQL giving the expected row count from its twin's result
ROWS_ONLY = {
    "winnow_fp": "SELECT count(DISTINCT doc_id) FROM '{q}/winnow_grams/*.parquet'",
}


def _rows(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    rows.sort(key=repr)
    return [cols[i] for i in order], rows


def check(tables_dir, pass_dirs, oracle_sql, names):
    """Returns {(pass dir, query): None if it matches, else a one-line
    reason}. Each oracle runs once and is compared with every pass."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'")
    out = {}
    for name in names:
        try:
            want = _rows(con, oracle_sql[name]) if name in oracle_sql else None
        except Exception as e:  # an oracle that cannot run fails every pass
            want = f"oracle failed: {type(e).__name__}: {str(e)[:200]}"
        for d in pass_dirs:
            out[(d, name)] = _compare(con, d, name, want)
    con.close()
    return out


def _compare(con, pass_dir, name, want):
    path = os.path.join(pass_dir, name)
    if isinstance(want, str):
        return want
    if not os.path.isdir(path):
        return "no result written"
    try:
        if want is not None:
            got = _rows(con, f"SELECT * FROM '{path}/*.parquet'")
            if got[0] != want[0]:
                return f"columns differ: {got[0]} vs {want[0]}"
            if got[1] != want[1]:
                return f"rows differ ({len(got[1])} vs oracle {len(want[1])})"
            return None
        if name in ROWS_ONLY:
            n = con.sql(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
            twin = con.sql(ROWS_ONLY[name].format(q=pass_dir)).fetchone()[0]
            return None if n == twin else f"{n} rows vs twin {twin}"
        return "no oracle and no rows-only twin"
    except Exception as e:  # a result that cannot be read is a failed check
        return f"{type(e).__name__}: {str(e)[:200]}"
