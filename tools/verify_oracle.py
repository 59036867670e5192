"""Local replica of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle at a given
scale factor, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with float normalization).

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    return str(v)


# Oracle OUTPUT types that fetchall() and an Arrow-path fetch render
# differently (HUGEINT/DECIMAL -> decimal128; TIMESTAMPTZ -> tz-aware):
# the r8 corpus_shard_plan red. Oracles must CAST to canonical types.
NONCANONICAL = ("hugeint", "decimal", "with time zone", "ubigint", "uinteger")


def noncanonical_cols(cols, types):
    return [
        c
        for c, t in zip(cols, types)
        if any(b in str(t).lower() for b in NONCANONICAL)
    ]


def tz_signature(cols, types):
    """Map column name -> True iff the type carries a time zone.

    The driver's comparator distinguishes TIMESTAMP WITH TIME ZONE from
    naive TIMESTAMP (the r8 windowed_counts_audit red); the name-only
    comparison here missed it. Spark's 'timestamp_ntz' ends in 'tz' but
    is naive — match the full 'with time zone' / exact 'timestamptz'
    spellings only.
    """
    sig = {}
    for c, t in zip(cols, types):
        s = str(t).lower()
        sig[c] = ("with time zone" in s) or s == "timestamptz"
    return sig


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from strava_data_pipeline_spark.session import get_spark, warm_python_workers
    from strava_data_pipeline_spark.sources.catalog import TABLES

    # the comparator collects full results for hashing — session.py
    # sizes spark.driver.maxResultSize (default 8g) so rehearsal-scale
    # results (attribution's ~10M joined rows at mult=100) hash instead
    # of tripping the 1g default
    spark = get_spark("verify-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    # the first Arrow query must not pay the worker forks (bench.py too)
    warm_python_workers(spark)

    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; rehearsal corpora
        # (.scratch/sfx*) are Spark-written DIRECTORIES — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        finally:
            # operators persist intermediates for their own plans; don't
            # let cached partitions accumulate across the full registry
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:200]}")
            failures.append(name)
            continue
        badtypes = noncanonical_cols(dcols, rel.types)
        if badtypes:
            print(f"FAIL  {name}: non-canonical oracle output type on "
                  f"{badtypes} (CAST it — Arrow-path fetches diverge)")
            failures.append(name)
            continue
        sh = table_hash([c.lower() for c in scols], [tuple(r) for r in srows])
        dh = table_hash(dcols, drows)
        cols_ok = sorted(c.lower() for c in scols) == sorted(dcols)
        stz = tz_signature([c.lower() for c in scols],
                           [t for _, t in sdf.dtypes])
        dtz = tz_signature(dcols, rel.types)
        if cols_ok and stz != dtz:
            bad = sorted(c for c in stz if stz[c] != dtz.get(c, stz[c]))
            print(f"FAIL  {name}: tz-typed schema mismatch on {bad}")
            failures.append(name)
            continue
        n_ok = len(srows) == len(drows)
        if cols_ok and n_ok and sh == dh:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            print(
                f"FAIL  {name}: rows {len(srows)}/{len(drows)} cols_ok={cols_ok} "
                f"hash {sh}/{dh}"
            )
            failures.append(name)
    # denominator = queries actually checked this invocation, not the
    # whole registry — a subset run must not self-certify the rest
    print(f"\n{checked - len(failures)}/{checked} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
