"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
the first 50 ``queries()`` at sf=0.01 and compares each against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``dist_map_reduce_spark`` (registered via
``dist_map_reduce_spark.registry``); this module just aggregates
them, stalest first.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

from dist_map_reduce_spark import registry

registry.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def latest_stamps() -> dict[str, int]:
    """query name -> newest round N whose CORRECTNESS_rN.json (next to
    this file) holds a row for it. The driver evidence's one reader."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (word count, SURVEY.md §2.1) on sf0.001."""
    return registry.QUERIES["wordcount"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, stalest driver stamp first: sorted by
    (newest round that stamps the name, 0 if none; name). The driver
    checks the first 50, so each round re-checks the 50 stalest."""
    latest = latest_stamps()
    order = sorted(registry.QUERIES, key=lambda n: (latest.get(n, 0), n))
    return {n: registry.QUERIES[n] for n in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return dict(registry.ORACLES)
