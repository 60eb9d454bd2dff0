#!/usr/bin/env python3
"""Local pre-flight mirror of the driver's t2 DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB against the raw testdata
parquet tables, sorts columns by name, and compares row-by-row. Dev tool only
— NOT part of the shipped library (the engine itself has zero non-Spark deps).
"""
import json, sys, glob, math, decimal
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    # The driver's hash stringifies values per engine, so it is strictly
    # LESS forgiving than Python ==. Tag every numeric with its value
    # class (Decimal('1') == 1 == 1.0 in Python but hash differently in
    # the driver) and carry the sign of zero (-0.0 == 0.0 in Python but
    # str() differs) — both were r15 escapes (q_join_cardinality,
    # q_weighted_sample shipped "pre-flight green", driver red).
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        if math.isnan(v): return ("float", "NaN")
        return ("float", math.copysign(1.0, v), v)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return tuple(map(norm, v))
    return v

def main(sf_dir, out_dir):
    # one line per check, flushed as it lands: a redirected run shows
    # progress instead of sitting on one stdio buffer for minutes
    sys.stdout.reconfigure(line_buffering=True)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            exp = con.sql(sql)
        except Exception as e:
            print(f"FAIL {name}: SQL error {e}"); n_fail += 1; continue
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            print(f"FAIL {name}: columns {gcols} vs {ecols}"); n_fail += 1; continue
        gtypes = dict(zip(got.columns, [str(t) for t in got.types]))
        etypes = dict(zip(exp.columns, [str(t) for t in exp.types]))
        # The driver's hash is TYPE-SENSITIVE: a value-identical result with a
        # differing column type (e.g. DuckDB sum(BIGINT) -> HUGEINT vs Spark
        # BIGINT) hash-mismatches. A type diff here is therefore a FAIL, not a
        # note — the r13 q_rolling_range escape must stay impossible.
        if {c: gtypes[c] for c in gcols} != {c: etypes[c] for c in ecols}:
            diff = {c: (gtypes[c], etypes[c]) for c in gcols if gtypes[c] != etypes[c]}
            print(f"FAIL {name}: type diff (spark, duckdb) = {diff}"); n_fail += 1; continue
        # Repo rule (r15): no DECIMAL-typed column in any DECLARED query
        # output — even when BOTH engines agree on decimal(38,0), the
        # driver's per-engine value canonicalization diverges on it.
        # Decimal belongs inside operators (overflow guards), never in
        # the presented schema.
        dec_cols = [c for c in gcols if "DECIMAL" in gtypes[c].upper()
                    or "DECIMAL" in etypes[c].upper()]
        if dec_cols:
            print(f"FAIL {name}: DECIMAL-typed output columns {dec_cols} "
                  f"(present as BIGINT/DOUBLE instead)"); n_fail += 1; continue
        type_note = ""
        grows = got.select(*gcols).fetchall()
        erows = exp.select(*ecols).fetchall()
        if len(grows) != len(erows):
            print(f"FAIL {name}: rowcount {len(grows)} vs {len(erows)}"); n_fail += 1; continue
        bad = None
        for i, (gr, er) in enumerate(zip(grows, erows)):
            if tuple(map(norm, gr)) != tuple(map(norm, er)):
                bad = (i, gr, er); break
        if bad:
            print(f"FAIL {name}: row {bad[0]} spark={bad[1]} duckdb={bad[2]}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(grows)} rows){type_note}"); n_pass += 1
    # rows-only queries (declared but no oracle)
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracle: continue
        files = glob.glob(f"{d}/*.parquet")
        n = con.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        print(f"{'PASS' if n > 0 else 'WARN'} {name}: rows-only, {n} rows")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
