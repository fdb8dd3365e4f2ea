"""DuckDB oracle check of the Spark operators' results.

Each checked query's Spark result (one parquet dir, written by the
benchmark's first pass) is compared with its `SparkEntry.oracleSql`
statement run by DuckDB over the same generated tables: columns sorted
by name, rows sorted by every column, exact values (NaN equals NaN) —
the rule of the project's `scripts/selfcheck.py`.
"""
import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def check(data_dir, outputs, sqls):
    """outputs: query -> parquet dir; sqls: query -> oracle SQL.
    Returns query -> None when equal, else a one-line reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{data_dir}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    for name, path in sorted(outputs.items()):
        sql = sqls.get(name)
        if sql is None:
            verdicts[name] = "no oracle SQL"
            continue
        try:
            got = canon(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())
            want = canon(con.sql(sql).df())
        except Exception as e:  # a broken result or oracle is a failure
            verdicts[name] = f"unreadable: {str(e)[:200]}"
            continue
        if list(got.columns) != list(want.columns):
            verdicts[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdicts[name] = f"rows {len(got)} != {len(want)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
                verdicts[name] = None
            except AssertionError as e:
                verdicts[name] = "values differ: " + " ".join(str(e).split())[:200]
    con.close()
    return verdicts
