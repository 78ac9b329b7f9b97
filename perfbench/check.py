"""Output checks, run after the timed window on the final iteration's
results (see Harness.scala). A failed check counts against `failed`.

Registry queries: the Spark result and DuckDB running the query's oracle SQL
(SparkEntry.oracleSql) over the same generated tables must hash equal under
the oracle gate's canonicalisation (tools/check.py: columns sorted by name,
floats rounded to 9 places, NaN and timestamps as text, row order kept).

Walmart DAG: every artifact's row count must match the generator's counts,
and the validation R^2 must reach R2_FLOOR.
"""
import glob
import hashlib
import json
import math
import os

import duckdb

R2_FLOOR = 0.5


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def result_hash(rel):
    cols = sorted(rel.columns)
    rows = rel.select(", ".join(f'"{c}"' for c in cols)).fetchall()
    digest = hashlib.sha256()
    for r in rows:
        digest.update(repr(tuple(canon(v) for v in r)).encode())
    return [c.lower() for c in cols], len(rows), digest.hexdigest()


def check_queries(check_dir, queries):
    """Returns {query: reason} for every query whose output is wrong."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(check_dir, "in", "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = {}
    for q in queries:
        out = os.path.join(check_dir, q)
        if q not in oracle:
            bad[q] = "no oracle SQL"
            continue
        if not glob.glob(os.path.join(out, "*.parquet")):
            bad[q] = "no Spark result"
            continue
        try:
            mine = result_hash(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
            theirs = result_hash(con.sql(oracle[q]))
        except Exception as e:  # a failing oracle run is a failed check
            bad[q] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if mine != theirs:
            bad[q] = f"spark {mine[:2]} {mine[2][:12]} != oracle {theirs[:2]} {theirs[2][:12]}"
    return bad


def check_walmart(out, counts):
    """Returns {artifact: reason} for every wrong Walmart DAG artifact."""
    con = duckdb.connect()

    def rows(name):
        path = os.path.join(out, f"{name}.parquet")
        return con.sql(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]

    expect = {"merged_train": counts["train_rows"], "merged_test": counts["test_rows"],
              "test_predictions": counts["test_rows"],
              "eda_top10_stores": min(10, counts["stores"])}
    expect.update({f"eda_{t}": 1 for t in
                   ("null_counts", "describe", "quartiles", "outliers", "corr_vs_label")})
    bad = {}
    for name, n in expect.items():
        try:
            got = rows(name)
        except Exception as e:
            bad[name] = f"unreadable: {type(e).__name__}"
            continue
        if got != n:
            bad[name] = f"{got} rows, expected {n}"
    try:
        path = os.path.join(out, "validation_predictions.parquet")
        n, r2 = con.sql(
            "SELECT count(*), 1 - sum((Weekly_Sales - prediction) ^ 2) / "
            "sum((Weekly_Sales - avg_y) ^ 2) FROM (SELECT *, avg(Weekly_Sales) OVER () "
            f"AS avg_y FROM read_parquet('{path}/*.parquet'))").fetchone()
        if not 0 < n < counts["train_rows"]:
            bad["validation_predictions"] = f"{n} rows of {counts['train_rows']} train rows"
        elif r2 is None or r2 < R2_FLOOR:
            bad["validation_predictions"] = f"R^2 {r2} below {R2_FLOOR}"
    except Exception as e:
        bad["validation_predictions"] = f"unreadable: {type(e).__name__}"
    return bad
