"""Batch output check: each workload query's result (written by the harness's
first pass) against its `SparkEntry.oracleSql` run in DuckDB over the same
parquet tables, with the comparison rules of the repository's correctness
gate: columns sorted by name, equal row counts, and dtype-faithful cell
rendering compared in order and then as a multiset."""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def cell(v):
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise TypeError("unhashable cell type " + type(v).__name__)
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return "b:%s" % bool(v)
    if isinstance(v, (float, np.floating)):
        return "f:nan" if np.isnan(v) else "f:%r" % float(v)
    if isinstance(v, (int, np.integer)):
        return "i:%d" % int(v)
    if isinstance(v, str):
        return "s:%r" % v
    if isinstance(v, (bytes, bytearray)):
        return "y:%r" % bytes(v)
    return "%s:%r" % (type(v).__name__, v)


def rows_of(df):
    return [tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]


def compare(con, result_dir, sql):
    """None when the result matches the oracle, else a reason."""
    mine = con.sql("SELECT * FROM '%s/*.parquet'" % result_dir).df()
    ora = con.sql(sql).df()
    mine = mine[sorted(mine.columns)]
    ora = ora[sorted(ora.columns)]
    if list(mine.columns) != list(ora.columns):
        return "columns %s vs oracle %s" % (list(mine.columns), list(ora.columns))
    if len(mine) != len(ora):
        return "rows %d vs oracle %d" % (len(mine), len(ora))
    a, b = rows_of(mine), rows_of(ora)
    if a != b and sorted(a) != sorted(b):
        return "values differ"
    return None


def check(res, spec):
    """(attempted, failed, detail) over the checked pass, the warm-up passes
    and the measured passes: a query fails when it threw or its result
    mismatched."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(spec["sf_dir"], t + ".parquet")
        if os.path.exists(path):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    mismatched = {}
    for name, sql in sorted(res["oracle_sql"].items()):
        if name in res["errors"]:
            mismatched[name] = "threw: " + res["errors"][name]
            continue
        if sql is None:
            mismatched[name] = "no oracle SQL"
            continue
        try:
            why = compare(con, os.path.join(spec["check_dir"], name), sql)
        except Exception as e:  # a broken result file is a failed query
            why = "error: %s" % e
        if why:
            mismatched[name] = why
    runs = res["warmup"] + res["samples"]
    failed_samples = sum(1 for s in runs if not s["ok"])
    attempted = len(res["oracle_sql"]) + len(runs)
    failed = len(mismatched) + failed_samples
    return attempted, failed, {"oracle_mismatch": mismatched, "failed_samples": failed_samples}
