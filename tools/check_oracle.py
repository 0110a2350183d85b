#!/usr/bin/env python3
"""Local pre-check of SparkEntry correctness: replays the driver's compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir, loads the Spark parquet result and the
DuckDB result of oracle_sql.json[query] over the sf tables, sorts columns by
name and rows by all columns, and diffs values (floats to 1e-9 rel tol).
Each oracle execution's wall time is recorded as `oracle_s` in
correctness-local.json; the 10 slowest print after the verdict line.
"""
import json, os, sys, time
import duckdb
import pandas as pd

record = {}  # per-query {"status": ok|fail|rows_only, "rows": n, "detail": str}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for stable sort across dtypes; round floats first
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort",
                        key=lambda s: s.astype(str))
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{sf_dir}/{name}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = 0
    # a query that died during the dump has NO result dir — without this,
    # the compare silently shrinks its denominator (the round-9 trap)
    err_path = os.path.join(out_dir, "verify_errors.json")
    if os.path.exists(err_path):
        for q, err in json.load(open(err_path)).items():
            print(f"  FAIL {q}: verify-time error: {err[:160]}")
            record[q] = {"status": "fail", "rows": 0, "detail": "verify-time error: " + err[:300]}
            failures += 1
    for q in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, q)
        if not os.path.isdir(qdir):
            continue
        spark_df = pd.concat(
            [pd.read_parquet(os.path.join(qdir, f)) for f in os.listdir(qdir)
             if f.endswith(".parquet")], ignore_index=True)
        if q not in oracle:
            print(f"  [rows-only] {q}: {len(spark_df)} rows")
            record[q] = {"status": "rows_only", "rows": len(spark_df), "detail": ""}
            if len(spark_df) == 0:
                print(f"  FAIL {q}: zero rows")
                record[q] = {"status": "fail", "rows": 0, "detail": "zero rows"}
                failures += 1
            continue
        t0 = time.perf_counter()
        duck_df = con.execute(oracle[q]).fetchdf()
        oracle_s = round(time.perf_counter() - t0, 3)
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"  FAIL {q}: columns {list(a.columns)} vs {list(b.columns)}")
            record[q] = {"status": "fail", "rows": len(a), "oracle_s": oracle_s,
                         "detail": f"columns {list(a.columns)} vs {list(b.columns)}"}
            failures += 1
            continue
        if len(a) != len(b):
            print(f"  FAIL {q}: rows {len(a)} vs {len(b)}")
            record[q] = {"status": "fail", "rows": len(a), "oracle_s": oracle_s,
                         "detail": f"rows {len(a)} vs {len(b)}"}
            failures += 1
            continue
        mismatch = None
        for c in a.columns:
            av, bv = a[c], b[c]
            # driver hashes exact values: a float column on one side vs
            # int/Decimal on the other (e.g. DuckDB HUGEINT sums → float64,
            # Spark DECIMAL outputs → Decimal objects) hash-mismatches even
            # when values are numerically equal. Flag representation-class
            # differences.
            def kind(s):
                d = str(s.dtype)
                if d.startswith("float"):
                    return "float"
                if d.startswith(("int", "uint")):
                    return "int"
                if d == "object":
                    nn = s.dropna()
                    if len(nn) and type(nn.iloc[0]).__name__ == "Decimal":
                        return "decimal"
                return "other"
            ka, kb = kind(av), kind(bv)
            if ka != kb:
                mismatch = (f"col {c}: dtype-class mismatch spark={av.dtype}/{ka} "
                            f"duck={bv.dtype}/{kb} (driver hash would differ)")
                break
            if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
                import numpy as np
                av = pd.to_numeric(av, errors="coerce")
                bv = pd.to_numeric(bv, errors="coerce")
                ok = ((av - bv).abs() <= 1e-6 + 1e-9 * bv.abs()) | (av.isna() & bv.isna())
            else:
                ok = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
            if not ok.all():
                i = ok.idxmin()
                mismatch = f"col {c} row {i}: spark={av[i]!r} duck={bv[i]!r}"
                break
        if mismatch:
            print(f"  FAIL {q}: {mismatch}")
            record[q] = {"status": "fail", "rows": len(a), "oracle_s": oracle_s,
                         "detail": mismatch}
            failures += 1
        else:
            print(f"  OK   {q}: {len(a)} rows")
            record[q] = {"status": "ok", "rows": len(a), "oracle_s": oracle_s,
                         "detail": ""}
    # builder-side durable record: the driver's artifact collection has
    # failed three rounds running, so every full compare also writes its
    # per-query result map for committing into the round tree
    n_ok = sum(1 for r in record.values() if r["status"] == "ok")
    n_ro = sum(1 for r in record.values() if r["status"] == "rows_only")
    summary = {"sf_dir": sf_dir, "n_queries": len(record), "n_oracle_ok": n_ok,
               "n_rows_only": n_ro, "n_fail": failures, "queries": record}
    with open(os.path.join(out_dir, "correctness-local.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    timed = sorted(((r["oracle_s"], q) for q, r in record.items() if "oracle_s" in r),
                   reverse=True)
    if timed:
        print("slowest oracles:")
        for secs, q in timed[:10]:
            print(f"  {secs:9.3f}s  {q}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
