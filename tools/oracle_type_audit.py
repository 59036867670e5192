"""Audit every registered oracle's DuckDB OUTPUT types.

The replica fetches with fetchall() (HUGEINT -> Python int, lossless),
but a harness that fetches via Arrow sees HUGEINT as decimal128 and
may stringify it differently than BIGINT — the leading theory for the
r8 corpus_shard_plan hash red (rows+schema matched, values didn't).
Flag any oracle whose result schema contains HUGEINT, DECIMAL, or
TIMESTAMP WITH TIME ZONE so the SQL can be CAST-hardened at the source.

Usage: python tools/oracle_type_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

BAD = ("HUGEINT", "DECIMAL", "WITH TIME ZONE", "UBIGINT", "UINTEGER")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from strava_data_pipeline_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    hits = 0
    for name, sql in e.oracle_sql().items():
        try:
            rel = con.sql(sql)
            types = [str(t).upper() for t in rel.types]
        except Exception as ex:
            print(f"ERR   {name}: {str(ex)[:120]}")
            hits += 1
            continue
        bad = [
            (c, t)
            for c, t in zip(rel.columns, types)
            if any(b in t for b in BAD)
        ]
        if bad:
            print(f"FLAG  {name}: {bad}")
            hits += 1
    print(f"\n{hits} oracles flagged")
    return 1 if hits else 0


if __name__ == "__main__":
    raise SystemExit(main())
