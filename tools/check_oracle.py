#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry of __spark_entry__ on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted by all columns).

Float policy: queries round on both sides; here we verify EXACT equality
of the rounded values and additionally report a tolerance-only match so
boundary-rounding flakes are visible before the driver sees them.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name,name]
"""

from __future__ import annotations

import argparse
import math
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> tuple[bool, bool]:
    """(exact, tolerant) cell equality."""
    if a is None and b is None:
        return True, True
    try:
        if pd.isna(a) and pd.isna(b):
            return True, True
        if pd.isna(a) or pd.isna(b):
            return False, False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        exact = fa == fb
        tol = math.isclose(fa, fb, rel_tol=1e-7, abs_tol=1e-7)
        return exact, tol
    return a == b, a == b


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> dict:
    res = {"rows": (len(spark_pdf), len(duck_pdf)), "cols": (sorted(spark_pdf.columns), sorted(duck_pdf.columns))}
    res["rows_match"] = len(spark_pdf) == len(duck_pdf)
    res["cols_match"] = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    if not (res["rows_match"] and res["cols_match"]):
        res["exact"] = res["tolerant"] = False
        return res
    # Driver-sensitivity replica: the driver hashes FORMATTED values, so an
    # int64 Spark column vs a float64 oracle column ("414213" vs "414213.0")
    # is a red row even when every value compares equal under float().  The
    # r9 bm25/target-encode reds were exactly this (uncast DuckDB sum() ->
    # HUGEINT -> pandas float64).  Flag any column whose pandas dtype class
    # differs int-vs-float between the two frames.
    dtype_flags = [
        (c, str(spark_pdf[c].dtype), str(duck_pdf[c].dtype))
        for c in sorted(spark_pdf.columns)
        if {spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind} in ({"i", "f"}, {"u", "f"})
    ]
    res["dtype_flags"] = dtype_flags
    if dtype_flags:
        res["exact"] = res["tolerant"] = False
        return res
    a, b = canon(spark_pdf), canon(duck_pdf)
    exact = True
    tolerant = True
    first_diff = None
    for i in range(len(a)):
        for c in a.columns:
            e, t = values_equal(a.iloc[i][c], b.iloc[i][c])
            if not e:
                exact = False
                if first_diff is None:
                    first_diff = (i, c, a.iloc[i][c], b.iloc[i][c])
            if not t:
                tolerant = False
    res["exact"], res["tolerant"], res["first_diff"] = exact, tolerant, first_diff
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--hostile",
        action="store_true",
        help="simulate an unknown driver session: Spark defaults (200 shuffle "
        "partitions, no AQE) and a non-UTC session timezone",
    )
    args = ap.parse_args()

    # tell oracle_sql() which scale this run checks, so scale-pinned
    # oracles (the recorded-position fit oracles) can fall back to the
    # rows-only check instead of false-mismatching at a foreign sf
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = args.sf

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[8]").appName("check-oracle").config(
        "spark.ui.enabled", "false"
    ).config("spark.driver.memory", "8g")
    if args.hostile:
        builder = builder.config("spark.sql.adaptive.enabled", "false").config(
            "spark.sql.session.timeZone", "America/New_York"
        )
    else:
        builder = builder.config("spark.sql.shuffle.partitions", "16").config(
            "spark.sql.adaptive.enabled", "true"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(qs) if not args.only else args.only.split(",")

    failures = []
    from mopso_engine.scope import query_scope

    for name in names:
        t0 = time.time()
        try:
            # the scope releases what the query persisted or broadcast, so
            # a 270-query sweep does not accumulate storage
            with query_scope():
                sdf = qs[name](spark, args.sf).toPandas()
        except Exception:
            print(f"✗ {name}: SPARK ERROR\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"~ {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"  WARNING: 0 rows")
            continue
        try:
            # HUGEINT guard: DuckDB's sum(BIGINT) widens to HUGEINT, which
            # pandas renders as float64 and flips the driver's formatted-value
            # hash even when every value is equal (r9 red rows).  DESCRIBE
            # binds without executing, so this is a cheap per-query contract.
            desc = con.execute("DESCRIBE " + oracles[name]).df()
            huge = [
                (cn, ct)
                for cn, ct in zip(desc["column_name"], desc["column_type"])
                if "HUGEINT" in str(ct).upper()
            ]
            if huge:
                print(f"✗ {name}: ORACLE HUGEINT OUTPUT {huge} — add ::BIGINT casts")
                failures.append(name)
                continue
            ddf = con.execute(oracles[name]).df()
        except Exception:
            print(f"✗ {name}: DUCKDB ERROR\n{traceback.format_exc()}")
            failures.append(name)
            continue
        r = compare(sdf, ddf)
        ok = r["exact"]
        mark = "✓" if ok else ("≈" if r.get("tolerant") else "✗")
        extra = ""
        if not r["rows_match"]:
            extra = f" rows {r['rows']}"
        elif not r["cols_match"]:
            extra = f" cols {r['cols']}"
        elif r.get("dtype_flags"):
            extra = f" DTYPE-CLASS MISMATCH {r['dtype_flags']}"
        elif not ok:
            extra = f" first_diff={r.get('first_diff')}"
        print(f"{mark} {name}: rows={len(sdf)} ({time.time()-t0:.1f}s){extra}")
        if not ok:
            failures.append(name)
    print(f"\n{len(names)-len(failures)}/{len(names)} green")
    if failures:
        print("failing:", ",".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
