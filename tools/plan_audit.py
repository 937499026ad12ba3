"""Plan-health audit over every registered (non-streaming) query.

Flags the anti-patterns the scale contract (SCALE.md / PLANS.md)
forbids, from the EXECUTED plan string:

- CartesianProduct anywhere (one sanctioned exception);
- SortAggregate outside the three documented benign holdouts
  (string/struct-payload min/max/argmax — see PLANS.md tail);
- hash-exchange counts, sorted descending, to spot lineage
  re-execution (the semdedup/triangle class of bug: a subtree
  consumed N times without a persist);
- FOREIGN-SESSION lambda-filter blowups: engine sessions exclude
  InferFiltersFromGenerate (session.py), but the driver harness
  builds its own SparkSession, where exploding a higher-order-
  function-derived array infers size/isnotnull filters that inline
  the generator expression — with no CSE inside lambda bodies, an
  aliased upstream array re-evaluates per lambda reference
  (O(words²) shingles, the 550 s winnowing case). The audit re-plans
  every query with the exclusion lifted and reports Filter nodes
  containing lambdafunction(, ranked by inlined-expression size.
  Small constant-factor hits are tolerated (threshold below);
  anything quadratic-shaped belongs on explode_outer
  (tests/test_winnow_explode_plan.py shows the fix pattern).

Run after adding an operator or touching a shared build;
exit code 1 on any new flag, so it can gate locally.

Usage: python tools/plan_audit.py [sf_dir]   # default sf0.001
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dist_map_reduce_spark import caching, registry  # noqa: E402
from dist_map_reduce_spark.session import get_spark  # noqa: E402

registry.load_all()

# staged (next-round) queries audit identically — they are about to
# occupy driver window slots, so their plans must already be clean
ALL_QUERIES = {**registry.QUERIES, **registry.STAGED_QUERIES}

# Queries whose CALLABLE executes work (streams, sink writes) during
# plan construction — auditing their plan string would run the job.
# Property, not prefix: 'streaming_'/'sink_' naming covers the
# registered families, and eager staged/odd-named queries list here
# explicitly.
EXECUTES_ON_CONSTRUCTION = {"corpus_shard_manifest"}


def _eager(name: str) -> bool:
    return (
        name.startswith("streaming_")
        or name.startswith("sink_")
        or name in EXECUTES_ON_CONSTRUCTION
    )


CARTESIAN_OK = {"join_semi_anti_balance"}  # 1-row scalar crossJoin
SORTAGG_OK = {
    "profile_orders_columns",  # global min/max over string columns
    "sink_sorted_parquet_ranges",  # max(struct(ts, id)) per file
    "stats_argmax_per_nation",  # max_by with a string payload
}

# max lambdafunction( occurrences tolerated in ONE inferred Filter
# line under a foreign session: a filter inlining a single-level
# higher-order expression carries a handful (constant-factor extra
# eval); nesting that re-evaluates an aliased array inside another
# lambda multiplies them (the winnowing case inlined dozens)
LAMBDA_FILTER_MAX = 8


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    flags: list[str] = []
    exchanges: list[tuple[int, str]] = []
    for name in sorted(ALL_QUERIES):
        # base pass: sink_* round-trips are small writes this pass
        # has always audited; streams and full-corpus exports skip
        if name.startswith("streaming_") or name in EXECUTES_ON_CONSTRUCTION:
            continue
        caching.clear()
        try:
            plan = (
                ALL_QUERIES[name](spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001
            flags.append(f"{name}: PLAN ERROR {e}")
            continue
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            flags.append(f"{name}: CartesianProduct")
        if "SortAggregate" in plan and name not in SORTAGG_OK:
            fns = sorted(
                set(
                    m.group(1)[:50]
                    for m in re.finditer(r"SortAggregate\(.*?functions=\[([^\]]*)", plan)
                )
            )
            flags.append(f"{name}: SortAggregate {fns[:1]}")
        exchanges.append((plan.count("Exchange hashpartitioning"), name))

    # foreign-session pass: lift the InferFiltersFromGenerate
    # exclusion and measure how big the inlined lambda filters get
    lam_hits: list[tuple[int, str]] = []
    spark.conf.set("spark.sql.optimizer.excludedRules", "")
    try:
        # canary: a known-bad probe (raw winnow explode — the shape
        # the exclusion exists for) must trip the detector, proving
        # the runtime exclusion lift took effect and the pattern
        # match still works; otherwise this whole pass is blind
        from pyspark.sql import functions as F

        from dist_map_reduce_spark.catalog import load_table
        from dist_map_reduce_spark.functions.text_winnow import (
            winnow_fingerprints,
        )

        probe = winnow_fingerprints(
            load_table(spark, sf_dir, "documents")
        ).select("doc_id", F.explode("fps").alias("p"))
        probe_plan = probe._jdf.queryExecution().executedPlan().toString()
        probe_n = max(
            (
                line.count("lambdafunction(")
                for line in probe_plan.splitlines()
                if "Filter" in line
            ),
            default=0,
        )
        if probe_n <= LAMBDA_FILTER_MAX:
            flags.append(
                "foreign-session audit pass is BLIND: the raw-winnow "
                f"canary shows {probe_n} inferred filter lambdas "
                "(expected > LAMBDA_FILTER_MAX) — the excludedRules "
                "lift did not take effect or the detector regressed"
            )
        for name in sorted(ALL_QUERIES):
            if _eager(name):
                continue  # executes / writes on plan construction
            caching.clear()
            try:
                plan = (
                    ALL_QUERIES[name](spark, sf_dir)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
            except Exception:  # noqa: BLE001
                continue  # base pass already reported plan errors
            worst = 0
            for line in plan.splitlines():
                if "Filter " in line and "lambdafunction(" in line:
                    worst = max(worst, line.count("lambdafunction("))
            if worst:
                lam_hits.append((worst, name))
    finally:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    lam_hits.sort(reverse=True)
    if lam_hits:
        print("foreign-session inferred lambda-filters (lambda count in")
        print("one Filter line; NESTED lambdas mark quadratic re-eval):")
        for n, name in lam_hits[:12]:
            print(f"  {n:3d}  {name}")
    # > LAMBDA_FILTER_MAX nested lambdas in one inferred filter means
    # an aliased array is re-evaluated inside another lambda — the
    # quadratic class; constant-factor inlining stays below it
    for n, name in lam_hits:
        if n > LAMBDA_FILTER_MAX:
            flags.append(
                f"{name}: foreign-session inferred filter inlines "
                f"{n} lambdas (quadratic re-eval risk) — use "
                f"explode_outer at the hot site"
            )
    exchanges.sort(reverse=True)
    print("top hash-exchange counts (plan-string, incl. cached-relation reprs):")
    for n, name in exchanges[:10]:
        print(f"  {n:3d}  {name}")
    if flags:
        print("\nFLAGS:")
        for f in flags:
            print(" ", f)
        return 1
    print("\nno flags.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
