"""DuckDB oracle comparison for the benchmark's dumped results.

Each called query with an oracle SQL (SparkEntry.oracleSql) has its
result dumped as parquet by the harness. Here the oracle runs in DuckDB
over the same generated tables, and the two are compared by column
names, row count and the sorted rows, exactly (the same rule the repo's
correctness gate applies).
"""
import glob
import os

import duckdb
import pandas as pd


def _views(con, data_dir):
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def compare(spark_df, duck_df):
    """None if equal, else a one-line reason."""
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"columns spark={sc} duckdb={dc}"
    if len(spark_df) != len(duck_df):
        return f"rows spark={len(spark_df)} duckdb={len(duck_df)}"
    a = spark_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
    b = duck_df[dc].sort_values(dc, kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).split("\n")[0]
    return None


def check(data_dir, dump_dir, queries):
    """{query: reason} for every query whose dump differs from its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _views(con, data_dir)
    failed = {}
    for name, sql in sorted(queries.items()):
        try:
            spark_df = con.sql(
                f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')").df()
            reason = compare(spark_df, con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = f"{type(e).__name__}: {str(e)[:300]}"
        if reason:
            failed[name] = reason
    return failed
