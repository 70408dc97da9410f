"""Untimed oracle check: each dumped Spark output against DuckDB running
the query's SparkEntry.oracleSql over the same Parquet inputs, compared
after the canonicalization of scripts/oracle_check.py (imported, not
copied)."""
import concurrent.futures
import glob
import importlib.util
import os

import duckdb
import pandas as pd


def _canon(root):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def compare(duck, spark):
    """None when the canonical frames agree, else the first reason they do not."""
    if list(duck.columns) != list(spark.columns):
        return f"columns duck={list(duck.columns)} spark={list(spark.columns)}"
    if len(duck) != len(spark):
        return f"rows duck={len(duck)} spark={len(spark)}"
    kinds = [c for c in duck.columns
             if duck[c].dtype.kind != spark[c].dtype.kind
             and not (duck[c].dtype.kind in "iu" and spark[c].dtype.kind in "iu")]
    if kinds:
        return f"dtype mismatch in {kinds}"
    neq = ~(duck.eq(spark) | (duck.isna() & spark.isna()))
    if neq.any().any():
        return f"{int(neq.any(axis=1).sum())}/{len(duck)} rows differ"
    return None


def check(root, dump_dir, sqls, data_dir=None):
    """Map each output name to None (agrees) or the reason it failed.
    The queries run side by side, one DuckDB cursor each."""
    canon = _canon(root)
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(dump_dir, '.duckdb')}'")
    if data_dir:
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def one(name):
        d = os.path.join(dump_dir, name)
        if os.path.exists(os.path.join(d, "_ERROR")):
            return "Spark failed: " + open(os.path.join(d, "_ERROR")).read().strip()[:200]
        if not sqls[name]:
            return "no oracle SQL"
        try:
            return compare(canon(con.cursor().execute(sqls[name]).df()), canon(pd.read_parquet(d)))
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            return f"{type(e).__name__}: {str(e)[:200]}"

    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        out = dict(zip(sorted(sqls), pool.map(one, sorted(sqls))))
    con.close()
    return out
