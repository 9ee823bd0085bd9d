"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables, compare
row-count + schema + order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
       --window   only the first 50 registry entries (exactly the rows the
                  driver will snapshot this round)
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(6)
        elif "bool" in str(df[c].dtype):
            df[c] = df[c].astype(bool)
        else:
            try:
                df[c] = df[c].astype("Int64")
            except Exception:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _kind(dt) -> str:
    s = str(dt)
    if "bool" in s:
        return "bool"
    if "int" in s.lower():
        return "int"
    if "float" in s:
        return "float"
    if "datetime" in s:
        return "ts"
    return "str"


def compare(name: str, spark_df, duck_df) -> list[str]:
    issues = []
    # dtype-category check BEFORE canonicalization.  Any kind mismatch —
    # INCLUDING int vs float — is a FAIL: the driver hashes raw
    # toPandas/fetchdf values, so DuckDB HUGEINT->float64 (`78.0`) vs Spark
    # bigint (`78`) hash-mismatches every row even though an Int64-coerced
    # comparison looks identical.  Tolerating that blur here is exactly how
    # a 96/96 local certification shipped over the red r4/r5 time_rollup
    # driver rows: both sides see the same data, so genuine null-promotion
    # promotes BOTH sides to float and kinds still match — a one-sided
    # promotion is always oracle/query dtype drift.
    for c in set(spark_df.columns) & set(duck_df.columns):
        ka, kb = _kind(spark_df[c].dtype), _kind(duck_df[c].dtype)
        if ka != kb:
            issues.append(
                f"col {c}: dtype kind spark={ka}({spark_df[c].dtype}) "
                f"duck={kb}({duck_df[c].dtype}) — driver hashes raw "
                f"dtypes; align the query/oracle cast")
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        issues.append(f"schema: spark={list(a.columns)} duck={list(b.columns)}")
        return issues
    if len(a) != len(b):
        issues.append(f"rows: spark={len(a)} duck={len(b)}")
        return issues
    for c in a.columns:
        if "float" in str(a[c].dtype) or "float" in str(b[c].dtype):
            av, bv = a[c].astype(float), b[c].astype(float)
            bad = ~((av - bv).abs() <= 1e-6) & ~(av.isna() & bv.isna())
            # the DRIVER hashes exactly (after its own round-to-6): a
            # within-1e-6 mismatch passes here but fails there — surface
            # it loudly instead of hiding it in the tolerance
            exact_bad = ~(av.round(6).eq(bv.round(6))
                          | (av.isna() & bv.isna()))
            n_exact = int(exact_bad.sum())
            if n_exact and not int(bad.sum()):
                i = exact_bad.idxmax()
                issues.append(
                    f"col {c}: EXACT-HASH RISK — {n_exact} values differ "
                    f"below 1e-6 but above round-6 equality, first at row "
                    f"{i}: spark={a[c][i]!r} duck={b[c][i]!r}")
        else:
            bad = (a[c].astype(str) != b[c].astype(str))
        n_bad = int(bad.sum())
        if n_bad:
            i = bad.idxmax()
            issues.append(f"col {c}: {n_bad} diffs, first at row {i}: "
                          f"spark={a[c][i]!r} duck={b[c][i]!r}")
    return issues


def main():
    args = [a for a in sys.argv[1:] if a != "--window"]
    window = "--window" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from vlm_ocr_doc_reader_spark.contract import ORACLES, QUERIES
    from vlm_ocr_doc_reader_spark.sources.session import get_spark

    if window:
        QUERIES = dict(list(QUERIES.items())[:50])

    spark = get_spark(master="local[8]",
                      extra_conf={"spark.ui.enabled": "false"})
    con = duck_conn(sf_dir)

    n_pass = n_fail = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        try:
            ddf = con.execute(ORACLES[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        issues = compare(name, sdf, ddf)
        if issues:
            n_fail += 1
            print(f"FAIL {name} ({len(sdf)} spark rows, {len(ddf)} duck rows, "
                  f"{time.time()-t0:.1f}s)")
            for i in issues[:4]:
                print(f"     {i}")
        else:
            n_pass += 1
            print(f"ok   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    if n_pass == 0 and n_fail == 0:
        # a typo'd query name (or --window intersected with names outside
        # the window) selected NOTHING — exiting 0 here would read as a
        # vacuous certification (ADVICE r7)
        print("ERROR: selection matched no registry entries "
              f"(names: {sorted(only) or '-'}, window={window})")
        sys.exit(2)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
