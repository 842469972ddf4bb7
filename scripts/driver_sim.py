"""Simulate the driver's t1+t2 gates end-to-end through __spark_entry__.

Usage: python scripts/driver_sim.py [sf_dir] [key ...]

Builds a VANILLA SparkSession (no engine tuning — exactly what the driver
would do), imports __spark_entry__ the way the driver does, runs entry() at
sf0.001, then every queries() key at sf_dir (default sf0.01) against its
oracle_sql() via DuckDB: row-count + column-name + order-insensitive
value-hash (floats rounded to 9 significant-ish digits before hashing to
absorb ulp noise the driver's own hash may or may not absorb — mismatches
print per-column diffs).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def float_flags(*frames: pd.DataFrame) -> dict[str, bool]:
    """Per-column "carries real float data" flags, computed ONCE over the
    UNION of all frames' full columns (r14, ADVICE): computing the flag
    per-frame from a 1000-row sample let row-order differences between
    Spark and DuckDB (or a float past row 1000) canonicalize NaN as '\\0'
    on one side and 'nan' on the other — a spurious HASH-FAIL. A shared
    full-scan flag makes both sides canonicalize identically always."""
    flags: dict[str, bool] = {}
    for df in frames:
        for c in df.columns:
            col = df[c]
            if pd.api.types.is_float_dtype(col):
                continue  # dtype-level float: canon's float branch handles it
            if not flags.get(c):
                flags[c] = any(
                    isinstance(x, float) and x == x for x in col.dropna()
                )
    return flags


def canon(df: pd.DataFrame, flags: dict[str, bool] | None = None) -> pd.DataFrame:
    if flags is None:
        flags = float_flags(df)
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            # explicit 6-digit strftime, not astype(str) (r14 adversarial-
            # timestamp axis): collect_pdf's far-future fallback stringifies
            # Spark-side as yyyy-MM-dd HH:mm:ss.ffffff, and astype(str)
            # drops the fraction on integral seconds — the two renderings
            # must be byte-identical for the hash compare.
            df[c] = (
                col.astype("datetime64[us]")
                .dt.strftime("%Y-%m-%d %H:%M:%S.%f")
                .fillna("NaT")
            )
        elif pd.api.types.is_float_dtype(col):
            f = col.astype("float64")
            df[c] = f.map(lambda x: "nan" if pd.isna(x) else f"{x:.6e}")
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("Int64").astype(str)
        else:
            # NULL in an object column arrives as None from Spark but as
            # float NaN from DuckDB's .df() (nullable BOOLEAN) — both are
            # SQL NULL; map them to the same sentinel. Guard (r13 ADVICE,
            # tightened r14 — see float_flags): only when the column is
            # NOT genuinely float-typed — if any non-null value in EITHER
            # engine's frame is a float, the column carries real float
            # data (mixed object dtype) and a genuine NaN must
            # canonicalize as "nan" like the float branch, not be
            # conflated with the other engine's SQL NULL.
            has_real_float = flags.get(c, False)
            df[c] = col.map(
                lambda x: (
                    "\0"
                    if x is None
                    or x is pd.NA
                    or (not has_real_float and isinstance(x, float) and x != x)
                    else ("nan" if isinstance(x, float) and x != x else str(x))
                )
            )
    return df


def collect_pdf(df) -> pd.DataFrame:
    """df.toPandas() with a far-future fallback (r14 adversarial-timestamp
    axis): pandas' ns epoch caps at year 2262, so a year-9999 result row
    cannot be collected as datetime64 at all — Arrow raises an
    out-of-bounds cast error. On that error, re-collect with every
    timestamp/date column canonically stringified SPARK-SIDE
    (yyyy-MM-dd HH:mm:ss.ffffff, NULL -> 'NaT') — byte-identical to what
    canon() renders the DuckDB side's datetime64[us] columns to, so the
    value-hash compare is unchanged. The fallback only ever engages on
    corpora carrying beyond-2262 stamps; the real driver's sf0.01 corpus
    never does."""
    try:
        return df.toPandas()
    except Exception as ex:
        if "timestamp" not in str(ex).lower():
            raise
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cols = []
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
            ):
                # strip the '+' DateTimeFormatter prefixes onto 5-digit
                # years (Spark CAN hold year 10000+; DuckDB's strftime
                # prints it bare)
                cols.append(
                    F.coalesce(
                        F.regexp_replace(
                            F.date_format(
                                f.name, "yyyy-MM-dd HH:mm:ss.SSSSSS"
                            ),
                            r"^\+",
                            "",
                        ),
                        F.lit("NaT"),
                    ).alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return df.select(cols).toPandas()


def value_hash(df: pd.DataFrame, flags: dict[str, bool] | None = None) -> str:
    rows = sorted("\x1f".join(r) for r in canon(df, flags).to_numpy().tolist())
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    t0 = time.perf_counter()
    n = entrymod.entry(spark).count()
    print(f"t1 smoke: entry() -> {n} rows in {time.perf_counter() - t0:.1f}s "
          f"{'PASS' if n > 0 else 'FAIL'}")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    passed = failed = rows_only = 0
    n_run = 0
    for key in sorted(queries):
        if only and key not in only:
            continue
        # Torrent-broadcast pieces are reclaimed by the ContextCleaner only
        # after a JVM GC notices the references are dead; a 364-key session
        # accumulates thousands of them (more with AQE runtime broadcasts)
        # and the 1g local driver heap hit a GCLocker broadcast OOM late in
        # the AQE-on run (tpch_q9, pass in isolation). Nudge GC every 50
        # keys — what a long-lived production driver gets from its own
        # steady-state GC cadence.
        n_run += 1
        if n_run % 50 == 0:
            spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        try:
            sp = collect_pdf(queries[key](spark, sf_dir))
        except Exception as ex:
            print(f"  {key}: SPARK ERROR {str(ex)[:200]}")
            failed += 1
            continue
        dt = time.perf_counter() - t0
        if key not in oracles:
            print(f"  {key}: ROWS-ONLY {len(sp)} rows  [{dt:.1f}s]")
            rows_only += 1
            continue
        try:
            du = con.sql(oracles[key]).df()
        except Exception as ex:
            print(f"  {key}: ORACLE SQL ERROR {str(ex)[:200]}")
            failed += 1
            continue
        problems = []
        if sorted(sp.columns) != sorted(du.columns):
            problems.append(f"cols spark={sorted(sp.columns)} duck={sorted(du.columns)}")
        elif len(sp) != len(du):
            problems.append(f"rows spark={len(sp)} duck={len(du)}")
        elif value_hash(sp, fl := float_flags(sp, du)) != value_hash(du, fl):
            a, b = canon(sp, fl), canon(du, fl)
            for c in a.columns:
                if sorted(a[c]) != sorted(b[c]):
                    sa, sb = sorted(a[c]), sorted(b[c])
                    diff = next((i, x, y) for i, (x, y) in enumerate(zip(sa, sb)) if x != y)
                    problems.append(f"col {c} first-diff {diff}")
        if problems:
            print(f"  {key}: HASH-FAIL {problems}  [{dt:.1f}s]")
            failed += 1
        else:
            print(f"  {key}: PASS {len(sp)} rows  [{dt:.1f}s]")
            passed += 1
    print(f"t2: {passed} PASS, {rows_only} ROWS-ONLY, {failed} FAIL")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
