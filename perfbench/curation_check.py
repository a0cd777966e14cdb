"""Curation outputs against their DuckDB mirrors.

The program declares a DuckDB query (`graft.OracleSql`) for each curation
query; the traced run writes each Spark result as parquet beside those
SQL strings. Here the mirror runs fresh in DuckDB over the fixtures and
both sides are compared canonically: columns matched by name, rows
sorted, floats by repr (the rule tools/check.py applies).
"""
import json
import math
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def queries(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        return json.load(f)


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def compare(con, name, sql, result_dir):
    """Problems found comparing one Spark result with its mirror."""
    try:
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        sc, sr = canon(spark_rel.columns, spark_rel.fetchall())
    except Exception as e:  # a missing or unreadable result is a failure, not a crash
        return [f"{name}: Spark result unreadable: {str(e)[:160]}"]
    try:
        ora = con.sql(sql)
        oc, orows = canon(ora.columns, ora.fetchall())
    except Exception as e:
        return [f"{name}: DuckDB mirror failed: {str(e)[:160]}"]
    if sc != oc:
        return [f"{name}: columns differ, spark={sc} mirror={oc}"]
    if len(sr) != len(orows):
        return [f"{name}: {len(sr)} rows, mirror {len(orows)}"]
    bad = sum(1 for x, y in zip(sr, orows) if x != y)
    return [f"{name}: values differ in {bad}/{len(sr)} rows"] if bad else []


def connect(fixtures):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(fixtures, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_all(fixtures, out_dir):
    con = connect(fixtures)
    problems = []
    for name, sql in sorted(queries(out_dir).items()):
        problems += compare(con, name, sql, os.path.join(out_dir, name))
    return problems
