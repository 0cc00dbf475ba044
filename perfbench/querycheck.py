"""Oracle check of the query_mix outputs, outside the timed passes.

Each entry's Spark result (parquet, written after the timed passes) is
compared with its `SparkEntry.oracleSql` rendering run by DuckDB over the
same generated tables, the way tools/check.py does: same row count, same
sorted column names, and equal values after sorting rows. A planted fault
(one changed value in a copy of a Spark result) must make the comparison
fail, or the check itself is broken.
"""
import glob
import json
import os


def _load(con, spark_dir):
    return con.sql(f"select * from read_parquet('{spark_dir}/*.parquet')").df()


def _same(oracle, spark):
    """None when the frames match, else the reason."""
    oracle = oracle.reindex(sorted(oracle.columns), axis=1)
    spark = spark.reindex(sorted(spark.columns), axis=1)
    if list(oracle.columns) != list(spark.columns):
        return f"columns {list(oracle.columns)} vs {list(spark.columns)}"
    if len(oracle) != len(spark):
        return f"rows {len(oracle)} vs {len(spark)}"
    cols = list(oracle.columns)
    o = oracle.sort_values(cols).reset_index(drop=True)
    s = spark.sort_values(cols).reset_index(drop=True)
    if not o.equals(s):
        diff = ((o != s) & ~(o.isna() & s.isna())).any(axis=1)
        return f"values differ in {int(diff.sum())} rows"
    return None


def _plant(frame):
    """A copy of `frame` with one value changed, or None if it has no rows."""
    if len(frame) == 0:
        return None
    bad = frame.copy()
    col = bad.columns[0]
    v = bad.iloc[0, 0]
    if isinstance(v, str):
        bad.iloc[0, 0] = v + "~"
    elif isinstance(v, (int, float)) and not isinstance(v, bool):
        bad[col] = bad[col].astype(object)
        bad.iloc[0, 0] = v + 1
    else:
        bad.iloc[0, 0] = None if v is not None else "~"
    return bad


def check(data_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"create view {name} as select * from read_parquet('{p}/*.parquet')")
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle = json.load(f)
    failed, rows = {}, {}
    planted = None
    for q in sorted(oracle):
        if oracle[q] is None:
            failed[q] = "no oracle"
            continue
        try:
            o = con.sql(oracle[q]).df()
            s = _load(con, os.path.join(out_dir, q))
        except Exception as e:  # noqa: BLE001 - any error fails the entry
            failed[q] = f"error: {e}"
            continue
        why = _same(o, s)
        rows[q] = len(s)
        if why:
            failed[q] = why
        elif planted is None:
            bad = _plant(s)
            if bad is not None:
                planted = _same(o, bad) is not None
    return {"entries": len(oracle), "failed": failed, "rows": rows,
            "self_test_caught": bool(planted)}
