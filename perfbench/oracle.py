"""Order-insensitive comparison of the query suite's warm-pass results
with DuckDB running the program's declared oracle SQL (`SparkEntry.oracleSql`)
on the same generated tables.

Values are tagged by class (int, float, decimal, bool) and floats keep the
sign of zero, so the comparison is no more forgiving than a hash of the
values; column names and types must match as well, and a DECIMAL-typed
output column fails.
"""
import decimal
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", "NaN") if math.isnan(v) else ("float", math.copysign(1.0, v), v)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return tuple(map(_norm, v))
    if isinstance(v, dict):
        return tuple(sorted((k, repr(_norm(x))) for k, x in v.items()))
    return v


def _rows(rel, cols):
    return sorted(repr(tuple(map(_norm, r))) for r in rel.select(*cols).fetchall())


def check(tables_dir, verify_dir):
    """Return {query name: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
        if not files:
            out[name] = "no Spark result"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            exp = con.sql(sql)
            gt = dict(zip(got.columns, map(str, got.types)))
            et = dict(zip(exp.columns, map(str, exp.types)))
            if gt != et:
                out[name] = f"schema {gt} vs DuckDB {et}"
            elif any("DECIMAL" in t.upper() for t in gt.values()):
                out[name] = "DECIMAL-typed output column"
            else:
                cols = sorted(gt)
                g, e = _rows(got, cols), _rows(exp, cols)
                out[name] = None if g == e else (
                    f"{len(g)} rows vs DuckDB {len(e)}" if len(g) != len(e)
                    else "row values differ from DuckDB")
        except Exception as ex:  # an oracle that cannot run is a failure
            out[name] = f"DuckDB error: {ex}"
    return out
