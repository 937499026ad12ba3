"""Check a single registered query against its DuckDB oracle.

Usage:
    python tools/check_one.py <query_name> [sf_dir]

Same canonicalization as tools/sweep.py, but one query — the fast
inner loop while developing a new oracle entry.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sweep import TABLES  # noqa: E402


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # registered via the driver surface; staged via the registry
    # (same reach as tools/sweep.py)
    from dist_map_reduce_spark import registry

    fn = e.queries().get(name) or registry.STAGED_QUERIES.get(name)
    if fn is None:
        known = sorted(e.queries()) + [
            f"{n} (staged)" for n in sorted(registry.STAGED_QUERIES)
        ]
        print(f"unknown query name: {name!r}. Known names:")
        for n in known:
            print(f"  {n}")
        return 2
    sp = fn(spark, sf_dir).toPandas()
    osql = e.oracle_sql().get(name)
    if osql is None and name in registry.STAGED_ORACLES:
        osql = registry.STAGED_ORACLES[name]
    if osql is None:
        print(f"{name}: rows-only ({len(sp)} rows)")
        return 0
    od = con.execute(osql).fetchdf()
    a = sp[sorted(sp.columns)].astype(str).apply(tuple, axis=1).sort_values().tolist()
    b = od[sorted(od.columns)].astype(str).apply(tuple, axis=1).sort_values().tolist()
    ok = a == b
    print(f"{name}: {'MATCH' if ok else 'MISMATCH'} ({len(sp)} vs {len(od)} rows)")
    if not ok:
        sa, sb = set(a), set(b)
        for t in list(sa - sb)[:5]:
            print("  spark-only:", t)
        for t in list(sb - sa)[:5]:
            print("  oracle-only:", t)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
