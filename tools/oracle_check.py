"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, comparing row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values canonicalized).  A query without an oracle fails, and a
query name that ``queries()`` does not list is an error.  Usage:

    PYTHONPATH=/root/repo python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(s.iloc[0], (bytes, bytearray)):
            df[c] = s.map(lambda b: b.hex())
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
        )
        return problems
    a, b = canonical(spark_pdf), canonical(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            if not a[c].equals(b[c]):
                neq = (a[c].astype(str) != b[c].astype(str))
                idx = int(np.argmax(neq.to_numpy())) if neq.any() else -1
                if idx >= 0:
                    problems.append(
                        f"col {c!r} differs at sorted-row {idx}: "
                        f"{a[c].iloc[idx]!r} vs {b[c].iloc[idx]!r} "
                        f"({int(neq.sum())} rows differ)"
                    )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from demeton_spark.session import build_session

    queries = entrymod.queries()
    unknown = sorted(only - queries.keys())
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = build_session(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entrymod.oracle_sql()
    # fixture-pinned oracles carry the driver's sf0.01 parquet path in
    # their contract strings; regenerate them for the sf under test
    # (the Spark side materializes the fixture before the oracle runs)
    from demeton_spark.queries import FIXTURE_ORACLES, sf_of

    sf = sf_of(sf_dir)
    if sf != 0.01:
        oracles = {**oracles, **{k: fn(sf) for k, fn in FIXTURE_ORACLES.items()}}
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"FAIL {name}: no oracle ({len(spark_pdf)} rows)")
            failures += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
