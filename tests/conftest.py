"""Shared pytest fixtures + the oracle-parity harness.

Mirrors the driver's check: run the Spark query and the DuckDB oracle
on the same parquet, sort columns by name, compare row count, schema
(column names), and order-insensitive values.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.catalog import TABLES
from dist_map_reduce_spark.session import get_spark

registry.load_all()

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dist_map_reduce_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_canon_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows)


def assert_parity(spark, duck, name: str, sf_dir: str = SF_ORACLE) -> None:
    """Run Spark query vs DuckDB oracle; assert driver-style equality.
    ``name`` may be a registered or a staged query."""
    fn = (registry.QUERIES | registry.STAGED_QUERIES)[name]
    spdf = fn(spark, sf_dir).toPandas()
    duck_views(duck, sf_dir)
    sql = (registry.ORACLES | registry.STAGED_ORACLES)[name]
    opdf = duck.execute(sql).fetchdf()

    assert sorted(spdf.columns) == sorted(opdf.columns), (
        f"{name}: column mismatch spark={sorted(spdf.columns)} "
        f"oracle={sorted(opdf.columns)}"
    )
    assert len(spdf) == len(opdf), (
        f"{name}: row count spark={len(spdf)} oracle={len(opdf)}"
    )
    srows, orows = canon_rows(spdf), canon_rows(opdf)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"
    )
