"""The benchmark's workloads.

Every workload is a fixed list of registered queries run by one
caller in a closed loop on ``local[<cores>]``. Every query in a
workload has a DuckDB oracle, so each one is checked for parity on
the generated inputs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    sf: float = 0.1
    doc_scale: int = 1
    # warm passes timed after the settling passes, at least; the tail
    # percentile leaves >= 10 of the pooled samples of that many passes
    # above it. An odd number of queries keeps the pooled median inside
    # one query's samples instead of between two queries' latencies.
    min_passes: int = 3


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "relational_io",
            "sf0.1 joins, windows, a subquery, an AQE skew join, a stateful availableNow "
            "stream and a parquet shard write: driver bound, no slots, no Python workers",
            (
                "q3_shipping_priority",
                "window_order_rank",
                "subquery_correlated_above_cust_avg",
                "lateral_topn_orders_per_customer",
                "skew_salted_join_nation_counts",
                "streaming_tumbling_1h",
                "corpus_shard_manifest",
            ),
            min_passes=5,
        ),
        Workload(
            "curation_x4",
            "text and ANN over a 4x sf0.1 corpus with 5% near-duplicates: "
            "slot builds when cold, executor and Python-worker time when warm",
            (
                "wordcount",
                "arrow_text_stats_per_source",
                "similarity_ann_ivf_kmeans_topk",
            ),
            doc_scale=4,
            min_passes=8,
        ),
    )
}
