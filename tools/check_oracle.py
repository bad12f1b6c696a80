#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the testdata parquet and compare (schema-by-name, row-set,
exact values) with the parquet dumped by graft.Verify.

Usage: python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, sys, glob
import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# --- type-strictness (r5 lesson: q84/q106 shipped red because this tool
# compared values dtype-INsensitively while the driver's hash is
# type-sensitive). Compare DECLARED types — DuckDB's relation .types vs the
# Spark parquet schema — so pandas' NULL→float64 promotion can't hide or
# fake a divergence. The driver's rule (evidenced by q76 passing with
# BIGINT-vs-int32): integer widths are interchangeable, but float-vs-int is
# a FAIL — and DuckDB HUGEINT surfaces as float64 through the hash, so it
# counts as float.
INT_DUCK = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
FLOAT_DUCK = {"FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT"}

def duck_class(t):
    s = str(t).upper()
    if s in INT_DUCK: return "int"
    if s in FLOAT_DUCK or s.startswith("DECIMAL"): return "float"
    if s == "BOOLEAN": return "bool"
    if s.startswith("TIMESTAMP") or s == "DATE": return "time"
    return "other"

def arrow_class(t):
    import pyarrow as pa
    if pa.types.is_integer(t): return "int"
    if pa.types.is_floating(t) or pa.types.is_decimal(t): return "float"
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_timestamp(t) or pa.types.is_date(t): return "time"
    return "other"

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-aware -> naive for comparison parity
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            rel = con.sql(sql)
            duck_types = dict(zip(rel.columns, [duck_class(t) for t in rel.types]))
            want = normalize(rel.df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        spark_schema = pq.read_schema(files[0])
        spark_types = {f.name: arrow_class(f.type) for f in spark_schema}
        got = normalize(pd.read_parquet(f"{outdir}/{name}"))
        ok = True
        msgs = []
        if list(got.columns) != list(want.columns):
            ok = False
            msgs.append(f"schema {list(got.columns)} vs {list(want.columns)}")
        for c in got.columns:
            dc, sc = duck_types.get(c), spark_types.get(c)
            if dc and sc and dc != sc:
                ok = False
                msgs.append(f"col {c}: TYPE class {sc} (spark) vs {dc} (oracle) — driver hash is type-sensitive")
        if not ok:
            pass  # schema/type mismatch already recorded; still report below
        elif len(got) != len(want):
            ok = False
            msgs.append(f"rows {len(got)} vs {len(want)}")
        else:
            for c in got.columns:
                a, b = got[c], want[c]
                try:
                    same = (a.values == b.values) | (a.isna().values & b.isna().values)
                    bad = (~same).sum()
                except Exception as e:
                    ok = False
                    msgs.append(f"col {c}: compare error {e} ({a.dtype} vs {b.dtype})")
                    continue
                if bad:
                    ok = False
                    i = (~same).argmax()
                    msgs.append(f"col {c}: {bad} mismatches, e.g. row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}")
        if ok:
            n_pass += 1
            print(f"PASS {name} ({len(got)} rows)")
        else:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(msgs[:3]))
    # rows-only checks
    queries = set(d.split('/')[-1] for d in glob.glob(f"{outdir}/q*"))
    rows_only = sorted(queries - set(oracle))
    for name in rows_only:
        n = len(pd.read_parquet(f"{outdir}/{name}"))
        if n > 0:
            print(f"ROWS {name}: {n} rows OK")
        else:
            print(f"FAIL {name}: rows-only query returned 0 rows")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail of {len(oracle)} oracle-checked"
          f" + {len(rows_only)} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
