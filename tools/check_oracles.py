"""Mini-driver: run every __spark_entry__ query against its DuckDB oracle
and compare row count, column names, and exact sorted-value equality —
a stricter local version of the driver's CORRECTNESS gate.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def run(sf_dir: str, only: list[str]):
    from libosmtools_spark.session import get_spark

    # get_spark defaults: as many cores as this process may use (default_cpus)
    spark = get_spark(app="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"✗ {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"• {name}: rows-only ({len(spdf)} rows)")
            if len(spdf) == 0 and name != "noop":
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"✗ {name}: oracle error {str(e)[:200]}")
            continue

        s_cols = sorted(spdf.columns)
        o_cols = sorted(opdf.columns)
        if s_cols != o_cols:
            failures.append((name, f"schema mismatch: {s_cols} vs {o_cols}"))
            print(f"✗ {name}: schema {s_cols} vs {o_cols}")
            continue
        if len(spdf) != len(opdf):
            failures.append((name, f"row count {len(spdf)} vs {len(opdf)}"))
            print(f"✗ {name}: rows {len(spdf)} vs {len(opdf)}")
            continue
        s_rows = sorted(map(tuple, spdf[s_cols].map(norm).itertuples(index=False)))
        o_rows = sorted(map(tuple, opdf[o_cols].map(norm).itertuples(index=False)))
        if s_rows != o_rows:
            bad = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            failures.append((name, f"value mismatch at sorted row {bad}: {s_rows[bad]} vs {o_rows[bad]}"))
            print(f"✗ {name}: values differ, e.g. {s_rows[bad]} vs {o_rows[bad]}")
            continue
        print(f"✓ {name}: {len(spdf)} rows exact match")

    spark.stop()
    print(f"\n{len(failures)} failures")
    for n, msg in failures:
        print(f"  {n}: {msg[:300]}")
    return 1 if failures else 0


if __name__ == "__main__":
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # fail fast with an actionable message when pointed at a directory
    # without the driver-table parquets (e.g. the repo-local fixtures/sfX
    # dirs, which hold only the spatial fixtures) — the DuckDB views would
    # otherwise error one query at a time
    missing = [t for t in TABLES if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if missing:
        sys.exit(
            f"{sf_dir} lacks the driver tables {missing}; pass a driver "
            "testdata tier such as /root/testdata/sf0.001 (repo fixtures/sfX "
            "dirs hold only the spatial fixtures, not the TPC-style tables)"
        )
    sys.exit(run(sf_dir, sys.argv[2:]))
