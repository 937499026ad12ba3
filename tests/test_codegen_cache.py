"""The generated-class cache holds a cyclic workload's working set.

Spark compiles each distinct generated class once and keeps it in a
JVM-wide LRU cache. At Spark's default of 100 entries, a workload that
cycles through more distinct classes than that misses on every call
and recompiles in every warm pass. ``session.get_spark`` sizes the
cache to the registry's measured working set, so a second pass over
the same queries compiles nothing.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE

registry.load_all()

# the benchmark's relational_io workload: about 105 distinct classes
# at sf0.001, more than the default cache holds
CYCLE = (
    "q3_shipping_priority",
    "window_order_rank",
    "subquery_correlated_above_cust_avg",
    "lateral_topn_orders_per_customer",
    "skew_salted_join_nation_counts",
    "streaming_tumbling_1h",
    "corpus_shard_manifest",
)


def _pass_compiles(spark) -> int:
    queries = registry.QUERIES | registry.STAGED_QUERIES
    before = codegen_compiles(spark)
    for name in CYCLE:
        queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark) - before


def test_second_pass_compiles_nothing(spark):
    _pass_compiles(spark)
    assert _pass_compiles(spark) == 0
