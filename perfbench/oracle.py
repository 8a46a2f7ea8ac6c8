"""DuckDB differential check of the frame_analytics outputs.

The comparison rules are the repository's correctness gate's, imported
from tools/check.py: columns sorted by name, rows sorted by value, exact
equality with typed kinds (an int never equals a float), except that two
floats within 1e-9 relative count as equal. A DuckDB EXCEPT ALL settles
the common case, identical types and rows, before the rules run in
Python: on the sf0.05 tables the row-by-row path alone takes ~14 s of a
run, against ~1.5 s with it.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check as rules  # noqa: E402  (tools/check.py)


def _same_bag(con, spark_scan, sql):
    """True when both sides have the same column names and types and the
    same multiset of rows, which the rules would find equal. False means
    "not shown equal": the row-by-row rules decide."""
    def schema(q):
        rel = con.sql(q)
        return sorted(zip(rel.columns, map(str, rel.types)))
    s = schema(f"SELECT * FROM {spark_scan}")
    if s != schema(sql):
        return False
    cols = ", ".join('"' + c + '"' for c, _ in s)
    n = con.execute(f"""
        WITH s AS (SELECT {cols} FROM {spark_scan}),
             o AS (SELECT {cols} FROM ({sql}))
        SELECT (SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL
                                      SELECT * FROM o)) +
               (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL
                                      SELECT * FROM s))""").fetchone()[0]
    return n == 0


def compare(con, spark_dir, sql):
    """Returns None when the Spark output equals the oracle, else why not."""
    if not glob.glob(f"{spark_dir}/*.parquet"):
        return "no output"
    if _same_bag(con, f"'{spark_dir}/*.parquet'", sql):
        return None
    rel = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
    s, sc = rules.canon(rel.fetchall(), [c[0] for c in rel.description])
    rel = con.execute(sql)
    o, oc = rules.canon(rel.fetchall(), [c[0] for c in rel.description])
    if sc != oc:
        return f"columns {sc} vs oracle {oc}"
    if len(s) != len(o):
        return f"{len(s)} rows vs oracle {len(o)}"
    for i, (rs, ro) in enumerate(zip(s, o)):
        for a, b in zip(rs, ro):
            if a is not None and b is not None and \
                    rules.kind(a) != rules.kind(b):
                return f"row {i}: {rules.kind(a)} vs oracle {rules.kind(b)}"
        if rs != ro and not all(rules.eq(a, b) for a, b in zip(rs, ro)):
            return f"row {i}: {rs} vs oracle {ro}"
    return None


def check(tables_dir, out_dir, oracle_sql, temp_dir):
    """Maps each query name to None (equal) or the first difference."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    for path in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        name = path.rsplit("/", 1)[1][:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return {name: compare(con, f"{out_dir}/{name}", sql)
            for name, sql in sorted(oracle_sql.items())}
