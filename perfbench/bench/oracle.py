"""Output check against the DuckDB oracle SQL of `graft.SparkEntry.oracleSql`.

Spark's output for a query (written as parquet on the check pass) and the
oracle's result are compared as multisets of rows. Doubles are compared
at nine significant digits: the benchmark runs with plain double sums
(`graft.sums.exact=false`), whose last bits depend on the summation order.
"""
import os

import duckdb

SIG_DIGITS = 9


def _norm(con, rel_sql):
    """Rows of `rel_sql` with columns in name order, doubles rounded to
    SIG_DIGITS significant digits and everything rendered as text."""
    cols = con.execute(f"DESCRIBE ({rel_sql})").fetchall()
    exprs = []
    for name, typ, *_ in sorted(cols, key=lambda c: c[0].lower()):
        c = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT"):
            c = (f"CASE WHEN {c} = 0 OR NOT isfinite({c}) THEN {c}::DOUBLE ELSE "
                 f"round({c}::DOUBLE, {SIG_DIGITS - 1} - floor(log10(abs({c})))::INT) END")
        elif typ.startswith("TIMESTAMP"):
            c = f"CAST({c} AS TIMESTAMP)"
        exprs.append(f"CAST({c} AS VARCHAR) AS \"{name.lower()}\"")
    return f"SELECT {', '.join(exprs)} FROM ({rel_sql})"


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare(con, oracle_sql, spark_dir):
    """(spark_rows, oracle_rows, matched): `matched` counts Spark rows that
    pair with an oracle row, as a multiset intersection."""
    spark = _norm(con, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    ref = _norm(con, oracle_sql)
    n_spark = con.execute(f"SELECT count(*) FROM ({spark})").fetchone()[0]
    n_ref = con.execute(f"SELECT count(*) FROM ({ref})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (({spark}) EXCEPT ALL ({ref}))").fetchone()[0]
    return n_spark, n_ref, n_spark - extra
