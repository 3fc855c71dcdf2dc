"""Dev harness mimicking the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB
at the given sf dir, compares row count, column names, and
order-insensitive values. Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]

Exits 2 without starting Spark when a named query is not registered.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize like the driver's value hash.

    The driver renders values, so it tolerates integer WIDTH differences
    (int32 vs int64 both print `26`) but NOT float-vs-int splits
    (`26.0` != `26`).  Mirror that exactly: widen every integral dtype
    to int64, widen every float dtype to float64, and keep the
    int/float distinction so a DuckDB HUGEINT-sum that surfaces as
    float64 against a Spark int64 FAILS here too (round-3 shipped 3 red
    driver rows because this harness used check_dtype=False)."""
    df = df[sorted(df.columns)]
    import pandas.api.types as pt

    for c in df.columns:
        dt = df[c].dtype
        if pt.is_bool_dtype(dt):
            df[c] = df[c].astype(bool)
        elif pt.is_integer_dtype(dt):
            df[c] = df[c].astype("int64")
        elif pt.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
        elif dt == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from osm_spark.session import get_spark

    qs = E.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        # a typo or a deregistered name must not read as "0/0 match"
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = E.oracle_sql()
    failures = []
    checked = 0
    import time
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        s, o = canon(sdf), canon(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
            failures.append(name)
            continue
        if len(s) != len(o):
            print(f"FAIL {name}: rows spark={len(s)} oracle={len(o)}")
            failures.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=True, check_exact=True)
            print(f"OK   {name}: {len(s)} rows, {len(s.columns)} cols"
                  f" [{time.time() - t0:.1f}s]", flush=True)
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch\n{str(ex)[:800]}")
            failures.append(name)
    # denominator = queries actually CHECKED this run — a filtered run
    # must never read as a full-suite pass
    suffix = "" if checked == len(qs) else f" (of {len(qs)} registered)"
    print(f"\n{checked - len(failures)}/{checked} queries match{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
