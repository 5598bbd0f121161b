"""DuckDB oracle check of analytics results, by the repository's oracle
rule: columns compared sorted by name, row counts equal, the first
non-null value of each column of the same type class, and every cell
equal in its canonical string rendering, with no float conversion."""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_TYPE_CLASS = {"float32": "float", "float64": "float", "float": "float",
               "int8": "int", "int16": "int", "int32": "int",
               "int64": "int", "int": "int"}


def canon(v):
    """Canonical cell rendering: str() keeps Decimal scale ('1.00') apart
    from float ('1.0')."""
    if v is None:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass  # arrays are not NA-checkable
    return str(v)


def compare(spark_df, oracle_df):
    """None when the frames match by the oracle rule, else the first
    difference as text."""
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return f"columns differ: spark={sc} oracle={oc}"
    if len(spark_df) != len(oracle_df):
        return f"rowcount differ: spark={len(spark_df)} oracle={len(oracle_df)}"
    for c in sc:
        a = spark_df[c].reset_index(drop=True)
        b = oracle_df[c].reset_index(drop=True)
        for va, vb in zip(a, b):
            if va is None or vb is None:
                continue
            ta, tb = type(va).__name__, type(vb).__name__
            if _TYPE_CLASS.get(ta, ta) != _TYPE_CLASS.get(tb, tb):
                return (f"col {c}: value-type mismatch spark={ta} oracle={tb} "
                        f"(e.g. {va!r} vs {vb!r})")
            break
        ca, cb = a.map(canon), b.map(canon)
        if not ca.equals(cb):
            i = (ca != cb).idxmax()
            return (f"col {c} row {i}: spark={ca[i]!r} oracle={cb[i]!r}")
    return None


def check(data_dir, results_dir, oracle_sql):
    """Runs each query's oracle SQL on `data_dir` and compares it with the
    Spark result written under `results_dir/<query>`. Returns a list of
    failure texts, one per mismatching query."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        fails = []
        for name, sql in sorted(oracle_sql.items()):
            parts = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
            if not parts:
                fails.append(f"{name}: no spark result")
                continue
            try:
                odf = con.execute(sql).fetch_arrow_table().to_pandas()
                sdf = pd.concat([pd.read_parquet(p) for p in parts],
                                ignore_index=True)
                bad = compare(sdf, odf)
            except Exception as e:  # a broken query is a failed check
                bad = f"compare error: {str(e)[:200]}"
            if bad:
                fails.append(f"{name}: {bad}")
        return fails
    finally:
        con.close()
