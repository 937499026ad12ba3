"""Physical-plan regression tests — the scale contract (SCALE.md).

Correctness tests can't catch a plan regression that turns a
broadcast join into a cartesian product or drops a pushed filter;
these assertions pin the plan shapes the 100 TB posture depends on.
"""

from __future__ import annotations

import pytest

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _plan(spark, name: str) -> str:
    return (
        registry.QUERIES[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _n_slot_reads(plan: str) -> int:
    """Count reads of a caching slot in a plan string. Slots are
    eager localCheckpoint snapshots since r17 (LogicalRDD leaves,
    displayed as ``Scan ExistingRDD``); the InMemoryTableScan count
    keeps the pin meaningful if the mechanism ever reverts to
    CacheManager persistence."""
    return plan.count("Scan ExistingRDD") + plan.count("InMemoryTableScan")


def test_q6_pushes_every_predicate(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    # the plan string truncates long filter lists — assert on the
    # leading untruncated fragments covering all three columns
    for frag in [
        "PushedFilters: [IsNotNull(l_shipdate)",
        "IsNotNull(l_discount)",
        "IsNotNull(l_quantity)",
    ]:
        assert frag in plan, f"missing pushdown {frag}\n{plan}"


def test_q6_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_returnflag" not in scan, "scan reads a column the query never uses"
    assert "l_extendedprice" in scan


def test_q5_broadcasts_bounded_dims(spark):
    plan = _plan(spark, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_topk_plans_take_ordered(spark):
    plan = _plan(spark, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in plan, "global sort materialized instead of top-k"


def test_q1_has_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "partial_sum" in plan, "map-side combine missing (SURVEY §2.3(4))"


def test_semi_anti_join_types(spark):
    # join_semi_active_customers was retired to @staged_query in the
    # r15 displacement; its LeftSemi pin stays (parity still tested
    # every run), looked up via the staged dict.
    registry.load_staged()
    semi_plan = (
        registry.STAGED_QUERIES["join_semi_active_customers"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in semi_plan
    assert "LeftSemi" in _plan(spark, "join_semi_anti_balance")
    assert "LeftAnti" in _plan(spark, "join_anti_dormant_customers")


def test_no_cartesian_products_anywhere(spark):
    """No oracle-checked query may plan a cartesian product (the
    intentional 1-row crossJoin in join_semi_anti_balance is the
    one bounded exception)."""
    allowed = {"join_semi_anti_balance"}
    offenders = []
    for name in sorted(registry.ORACLES):
        if name in allowed or name.startswith("streaming_"):
            continue  # streaming queries execute on registration
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_range_join_is_equi_join(spark):
    plan = _plan(spark, "range_join_purchases_after_error")
    assert "CartesianProduct" not in plan
    assert "Join" in plan and ("hashpartitioning" in plan or "BroadcastHashJoin" in plan)

def test_minhash_signature_stays_hash_aggregated(spark):
    """The 16-way min signature aggregation parses fixed-width hex
    slices to BIGINT so it stays in HashAggregate — min over
    var-length string buffers falls back to SortAggregate, putting a
    per-partition sort in the hottest dedup stage."""
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.dedup import _minhash_signature, shingles

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = (
        _minhash_signature(shingles(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan


def test_minhash_banding_avoids_stack(spark):
    """Wide→long banding must be a union of narrow selects — a
    stack() Generate breaks whole-stage codegen (measured ~2× slower
    on the banding stage)."""
    assert "stack(" not in _plan(spark, "minhash_band_candidates")


def test_tfidf_count_is_in_plan(spark):
    """The TF-IDF corpus count enters as a 1-row aggregate inside the
    plan (scalar-subquery pattern) — no separate driver-side count
    job before the query runs."""
    assert "n_docs" in _plan(spark, "text_tf_idf_top_terms")


def test_kmeans_broadcasts_centroid_table(spark):
    """k-means assignment broadcasts the bounded K×DIM centroid
    table against the corpus scan — the corpus itself is never
    shuffled for assignment."""
    plan = _plan(spark, "kmeans_embedding_cells")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ngram_postings_single_shuffle(spark):
    """The capped inverted-index build is ONE shuffle: the hot-key
    count window and the collect_list groupBy share the same
    hash(shingle) partitioning, so no Exchange sits between them."""
    from dist_map_reduce_spark import caching
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.dedup import _capped_postings, shingles

    # an earlier test may have left the postings slot cached — the
    # CacheManager would then substitute InMemoryTableScan (whose
    # stored plan repr contains the original Exchange) into this plan
    caching.clear()
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = (
        _capped_postings(shingles(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan


def test_repetition_signals_zero_shuffle(spark):
    """The per-doc bigram mode is a sorted-array run-length
    expression, not an explode + aggregation — the whole operator
    must stay a narrow projection with no Exchange."""
    assert "Exchange" not in _plan(spark, "text_repetition_signals")


def test_partitioned_sink_read_prunes_partitions(spark):
    """A filter on the partition column of the partitioned parquet
    sink must become a PartitionFilter on the scan (directory
    pruning), not a row filter over all partitions."""
    from pyspark.sql import functions as F

    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.sources_sinks import _scratch

    out = _scratch(SF_SMOKE, "orders_parquet_by_year")
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    orders.select("yr", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).partitionBy("yr").parquet(out)
    plan = (
        spark.read.parquet(out)
        .filter(F.col("yr") == 1997)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(yr" in plan or "PartitionFilters: [(yr" in plan, plan


def test_simhash_neardup_plan_shape(spark):
    """SimHash banded near-dup: the vote aggregation must stay in
    HashAggregate (fixed-width bigint sums), the cap window and the
    posting-list groupBy must share one exchange, the Hamming verify
    joins must broadcast the cached fingerprint table, and nothing
    may cartesian-product."""
    from dist_map_reduce_spark import caching

    caching.clear()
    plan = _plan(spark, "simhash_hamming_neardup")
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan, "vote agg fell out of HashAggregate"
    assert plan.count("BroadcastHashJoin") >= 2, (
        "fingerprint verify joins should broadcast the cached fp table"
    )
    assert "Window" in plan  # the hot-key cap


def test_orc_readback_prunes_columns(spark):
    """The ORC read side must show column pruning — only the
    aggregation columns reach the scan, same discipline as parquet."""
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.scratch import scratch_path

    out = scratch_path(SF_SMOKE, "lineitem_orc_plan")
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.schema(li.schema).orc(out)
    plan = (
        back.groupBy("l_returnflag")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(l for l in plan.splitlines() if "FileScan orc" in l)
    assert "l_returnflag" in scan
    assert "l_extendedprice" not in scan, "ORC scan reads unused columns"


def test_dupngram_single_corpus_explode(spark):
    """The per-(doc, gram) table is persisted: both consumers (gram
    doc-counts and the join-back) must read the cache, so exactly one
    Generate(explode) subtree is LIVE outside InMemoryRelation builds
    — and the final doc rollup keeps partial aggregation."""
    plan = _plan(spark, "text_dup_ngram_fraction")
    assert _n_slot_reads(plan) > 0, "gram table not cached"
    assert "partial_sum" in plan


def test_lm_scores_scalar_is_broadcast_not_data_join(spark):
    """The corpus-total enters as a 1-row IdentityBroadcast cross —
    never a shuffled data join — and doc-term counts are cached."""
    plan = _plan(spark, "lm_unigram_doc_scores")
    assert "BroadcastNestedLoopJoin" in plan  # the sanctioned scalar
    assert "IdentityBroadcastMode" in plan
    assert _n_slot_reads(plan) > 0, "doc-term table not cached"


def test_mad_outliers_two_pass_broadcast_stats(spark):
    """Group medians/MADs come back onto the facts as broadcast
    joins (group-sized tables), with map-side partial_percentile."""
    plan = _plan(spark, "stats_mad_outliers_events")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "partial_percentile" in plan
    assert "SortMergeJoin" not in plan


def test_pq_assignment_is_hash_aggregate(spark):
    """PQ code assignment must be a genuine fixed-width HashAggregate
    (min over the packed d2/code long key) — a struct-keyed min_by or
    an array-typed first() falls back to SortAggregate, a per-round
    sort of the Kx-expanded scores; the final top-5 uses the
    rank-pushdown WindowGroupLimit. Since r17 the training runs
    eagerly into a snapshot slot, so the assignment pin inspects the
    BUILDER's plan directly (the query plan only shows the leaf)."""
    from dist_map_reduce_spark import caching
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.similarity_pq import (
        pq_fit,
        subvector_rows,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    codes, _cb = pq_fit(subvector_rows(emb))
    fit_plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in fit_plan, "PQ fit fell out of HashAggregate"
    assert "partial_min" in fit_plan
    caching.clear()
    plan = _plan(spark, "similarity_ann_pq_adc_topk")
    assert "SortAggregate" not in plan, plan
    assert "WindowGroupLimit" in plan


def test_kmeans_assignment_is_hash_aggregate(spark):
    """Same contract for the k-means coarse quantizer: the packed
    (ccos desc, cell asc) long key keeps every Lloyd round in
    HashAggregate — no per-round sort of the Kx-expanded scores.
    As above, the Lloyd rounds are inspected on the builder's plan
    (they run eagerly into the snapshot slot since r17)."""
    from dist_map_reduce_spark import caching
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.similarity_common import kmeans_fit

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    assigned, _cent = kmeans_fit(emb)
    fit_plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in fit_plan, fit_plan
    assert "partial_min" in fit_plan
    caching.clear()
    plan = _plan(spark, "kmeans_embedding_cells")
    assert "SortAggregate" not in plan, plan


def test_ivfpq_probe_join_broadcasts(spark):
    """IVF-PQ's probe restriction and LUT scoring are broadcast
    equi-joins over the codes table — no shuffled join on the
    corpus-sized side beyond the ADC aggregation itself."""
    plan = _plan(spark, "similarity_ann_ivfpq_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_runtime_bloom_filter_injects_below_threshold(spark):
    """Runtime bloom-filter semi-join reduction (on by default,
    Spark 4): a selective dim-side filter injects bloom_filter_agg on
    the build side and BloomFilterMightContain on the fact scan, so
    fact rows that cannot join are dropped BEFORE the shuffle. The
    fixtures sit under the 10 GiB application-side threshold, so this
    test lowers it to prove the machinery and re-checks the result
    against the un-filtered plan."""
    from pyspark.sql import functions as F

    from dist_map_reduce_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    def revenue():
        o = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderstatus") == "F"
        )
        l = load_table(spark, SF_SMOKE, "lineitem")
        return (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )

    conf = spark.conf
    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    old_thr, old_bcast = conf.get(thr), conf.get(bcast)
    try:
        conf.set(thr, "0")
        conf.set(bcast, "-1")  # force SMJ: broadcast joins don't need blooms
        plan = revenue()._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan
        filtered = {(r.o_orderstatus, r.n) for r in revenue().collect()}
    finally:
        conf.set(thr, old_thr)
        conf.set(bcast, old_bcast)
    plain = {(r.o_orderstatus, r.n) for r in revenue().collect()}
    assert filtered == plain and filtered


def test_skyline_two_window_passes_no_global_sort(spark):
    """The skyline must be the two-phase reduction: a local window
    keyed by a hash bucket of x (32-way parallel sort of the per-x
    collapse) followed by the tiny global pass over local survivors.
    A plan that globally sorts the full per-x collapse in one task
    would be a scale regression."""
    plan = _plan(spark, "skyline_orders_price_recency")
    assert plan.count("Window") == 2, plan
    # exactly one SinglePartition exchange — and it must sit above
    # the local (bucketed) window pass, i.e. appear before it in the
    # top-down plan string
    assert plan.count("Exchange SinglePartition") == 1, plan
    # the bucketed local pass (its exchange hashes on the derived
    # window key _w0) must sit BELOW the single-partition global
    # pass, i.e. after it in the top-down plan string
    assert plan.index("Exchange SinglePartition") < plan.index(
        "hashpartitioning(_w0"
    ), plan
    # total exchanges: per-x aggregate, bucket window, global pass
    assert plan.count("Exchange") <= 3, plan


def test_triangle_plan_shape(spark):
    """Degree-ordered triangle counting: adjacency joins broadcast
    (vertex-dimension-sized), the compute-heavy intersect stage is
    explicitly repartitioned (AQE would coalesce the byte-small edge
    table to one partition), and every join is an equi-join."""
    plan = _plan(spark, "supplier_triangles")
    assert "array_intersect" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan or (
        "hashpartitioning(u" in plan
    ), plan


def test_scd2_pit_join_is_equi_with_residual(spark):
    """The point-in-time join must hash on the custkey equi-key with
    the validity-window predicate as a residual — never a
    nested-loop over facts × versions."""
    plan = _plan(spark, "scd2_point_in_time_revenue")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_partsupp_subqueries_decorrelate(spark):
    """q2/q20's correlated subqueries must plan as aggregate+join
    (no per-row re-execution — Catalyst leaves no Subquery nodes in
    the executed plan) and q16's NOT IN as a left-anti join."""
    assert "LeftAnti" in _plan(spark, "q16_supplier_part_counts")
    for name in ("q2_min_cost_supplier", "q20_excess_stock_suppliers"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_lexical_cosine_pairs_from_postings_not_self_join(spark):
    """Pair generation must come from the sorted postings arrays
    (Generate/explode of i<j index pairs) — not a term-keyed
    self-join that materializes k^2 rows per shingle."""
    plan = _plan(spark, "lexical_cosine_pairs")
    # the only joins are the two dimension-sized norm lookups
    n_joins = sum(plan.count(j) for j in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins <= 2, plan
    assert "Generate explode" in plan, plan


def test_weighted_sample_aes_plans_top_k(spark):
    """The A-ES sample must plan TakeOrderedAndProject (per-partition
    heaps), never a global sort of the corpus."""
    plan = _plan(spark, "weighted_sample_aes")
    assert "TakeOrderedAndProject" in plan, plan


def test_semdedup_is_cell_bounded_join(spark):
    """SemDeDup's candidate stage must be an equi-join on the k-means
    cell id (never all-pairs): no cartesian/nested-loop product except
    the broadcast centroid assignment, and the degenerate-cell cap
    window must be present below the pair join."""
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.semdedup import (
        MAX_CELL_VECS,
        TAU,
        _decide,
    )
    from dist_map_reduce_spark.functions.similarity_common import kmeans_fit

    # the whole prune list is a snapshot slot since r17, so the pin
    # inspects the BUILDER's plan (what actually executes at build)
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    plan = (
        _decide(kmeans_fit(emb)[0], TAU, MAX_CELL_VECS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, "per-cell cap window missing"
    assert "BroadcastExchange" in plan  # K x DIM centroid table


def test_cdc_merge_plan_pushes_bucket_filters(spark):
    """The CDC MERGE (promoted r13) is one join tree — LeftAnti
    deletes + LeftOuter updates + union'd inserts — and every
    change-set scan must carry its md5-bucket predicate in the scan's
    DataFilters (derived columns can't reach PushedFilters, but they
    must at least gate the scan, not a post-join Filter)."""
    plan = _plan(spark, "cdc_merge_upsert_orders")
    assert "LeftAnti" in plan
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan
    # the sf0.001 CDC sides always broadcast — a SortMergeJoin
    # anywhere in this tree means a broadcast regressed
    assert "SortMergeJoin" not in plan, plan
    # the three change-set scans each filter on the conv(md5(...))
    # bucket expression at the scan
    assert plan.count("conv(substring(md5(") >= 3


def test_ccnet_buckets_plan_shape(spark):
    """The CCNet bucketing (promoted r13) must stay aggregate-shaped:
    exact percentile as ONE ObjectHashAggregate riding a 1-row
    broadcast (BroadcastNestedLoopJoin Cross is the sanctioned scalar
    pattern), a 3-key partial+final HashAggregate for the buckets,
    and no global window or SortAggregate anywhere."""
    plan = _plan(spark, "quality_ccnet_buckets")
    assert "percentile(bits_per_token" in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan  # no global ntile/rank fallback
    assert "partial_count" in plan  # map-side combine on the buckets


def test_postcompaction_flags_plan_shape(spark):
    """The post-compaction flag query's read path (PROMOTED to
    @query in the r16 displacement): zero-shuffle row-wise probe
    banding feeding ONE semi-join against the compacted index
    (broadcast at fixture scale; a production delivery would
    broadcast the index side too), a keyed distinct — no Cartesian,
    no SortAggregate, and no Window (the flag is a membership
    semi-join, not a ranked scan)."""
    plan = (
        registry.QUERIES["streaming_postcompaction_neardup_flags"](
            spark, SF_SMOKE
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "LeftSemi" in plan  # the membership flag join


def test_bm25_plan_shape(spark):
    """The staged-forever BM25 panel: probe selection is
    TakeOrderedAndProject (never a global sort), the tiny query-term
    table broadcasts onto the corpus tf table, scalars ride the
    sanctioned 1-row cross, and nothing plans a CartesianProduct or
    SortAggregate."""
    registry.load_staged()
    plan = (
        registry.QUERIES["text_bm25_topk"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan  # query-term × corpus-tf join


def test_cms_plan_shape(spark):
    """The staged-forever count-min sketch: the corpus-scale word
    aggregate is persisted and every CMS consumer reads the cache
    (one FileScan worth of corpus I/O total), the seed fan-out is a
    Generate-free union of narrow selects, the 256-cell grid
    broadcasts back onto the word table, and top-k selection is
    TakeOrderedAndProject — no Cartesian, SortAggregate, or Window
    anywhere."""
    from dist_map_reduce_spark import caching

    registry.load_staged()
    caching.clear()
    plan = (
        registry.STAGED_QUERIES["text_cms_heavy_hitters"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # 256-cell grid joins back
    # all 8 consumers of the word-count subtree read the persisted
    # cache — the corpus explode+groupBy plans exactly once
    assert _n_slot_reads(plan) == 8


def test_bloom_plan_shape(spark):
    """The staged-forever Bloom decontamination pre-filter: the eval
    side (fingerprints, bit table, scalar) broadcasts everywhere, the
    train side is one scan + one aggregate (fp rides through the
    groupBy so there is NO corpus-corpus join-back), the k=3 bit
    fan-out is a Generate-free union with map-side combine, and
    nothing plans a Cartesian, SortAggregate, SortMergeJoin or
    Window."""
    from dist_map_reduce_spark import caching

    registry.load_staged()
    caching.clear()
    plan = (
        registry.STAGED_QUERIES["text_bloom_decontaminate"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # exactly two hash joins: bit membership and exact membership,
    # both broadcasting the benchmark-sized eval side
    assert plan.count("BroadcastHashJoin") == 2
    assert "partial_count" in plan  # fan-out combines map-side


def test_kmv_plan_shape(spark):
    """The staged-forever KMV source-overlap sketch: the per-source
    shingle table persists once (every arm reads the cache), windows
    are signature-scale ranks, the pair fan-out is a broadcast
    non-equi join over the bounded source dimension, and nothing
    plans a Cartesian or SortAggregate. The one SortMergeJoin — the
    shared-shingle self-join of the exact grading arm — is the
    intended corpus-scale exchange (both sides are the corpus's
    shingle set at 100 TB)."""
    from dist_map_reduce_spark import caching

    registry.load_staged()
    caching.clear()
    plan = (
        registry.STAGED_QUERIES["text_kmv_source_jaccard"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "Window" in plan  # the bottom-k signature ranks
    assert _n_slot_reads(plan) > 0  # shingle subtree persisted


def test_tdigest_plan_shape(spark):
    """The staged-forever t-digest quantile merge (r15): the only
    corpus-scale stages are the per-group rank window and the
    centroid hash aggregate (map-side combined); the merge and
    read-out stages run on centroid-scale rows (their global windows
    show up as SinglePartition exchanges of <= groups * DELTA rows);
    the probe bracketing and the exact-quantile scalar are the two
    sanctioned BroadcastNestedLoopJoins (both sides sketch-sized /
    1-row); nothing plans a Cartesian or SortAggregate and the scan
    prunes to the three used columns."""
    registry.load_staged()
    plan = (
        registry.STAGED_QUERIES["tdigest_quantile_merge"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "partial_sum" in plan  # centroid build combines map-side
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    for s in scans:
        assert "props" not in s and "user_id" not in s, (
            "events scan reads columns the digest never uses"
        )


def test_theta_set_ops_plan_shape(spark):
    """The staged-forever theta set algebra (r15): shares text_kmv's
    exact plan economy — the per-source shingle subtree persists once
    (every arm reads the cache), the pair fan-out is a broadcast
    non-equi join over the bounded source dimension, per-pair windows
    are signature-scale, and nothing plans a Cartesian or
    SortAggregate. The SortMergeJoin of the exact-intersection
    grading arm is the intended corpus-scale exchange (text_kmv
    convention)."""
    from dist_map_reduce_spark import caching

    registry.load_staged()
    caching.clear()
    plan = (
        registry.STAGED_QUERIES["text_theta_set_ops"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "Window" in plan  # signature ranks + union top-K
    assert _n_slot_reads(plan) > 0  # shared shingle subtree
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_hll_native_plan_shape(spark):
    """The staged-forever native HLL (r15): corpus-scale work is one
    distinct + one register aggregate (both map-side combined); the
    merge and estimate stages run on <= groups x 64 register rows;
    the generated integer-CASE rank keeps everything in whole-stage
    codegen (no SortAggregate, no Cartesian) and the scan prunes to
    the two used columns."""
    registry.load_staged()
    plan = (
        registry.STAGED_QUERIES["hll_native_customer_cardinality"](
            spark, SF_SMOKE
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "partial_max" in plan  # register build combines map-side
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans
    for s in scans:
        assert "o_totalprice" not in s and "o_orderdate" not in s, (
            "orders scan reads columns the sketch never uses"
        )


def test_length_buckets_plan_shape(spark):
    """The staged-forever padding-waste query (r15): ONE corpus scan
    projected to the text column, one map-side-combined <=10-key
    aggregate, a tiny total-row aggregate — nothing else. No
    Cartesian, no SortAggregate, no Window, and the scan must not
    read columns the length measure never uses."""
    registry.load_staged()
    plan = (
        registry.STAGED_QUERIES["length_bucket_padding_waste"](
            spark, SF_SMOKE
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan  # map-side combine
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans
    for s in scans:
        assert "doc_id" not in s and "lang" not in s, (
            "documents scan reads columns the bucketing never uses"
        )


def _one_round_robin_below(plan: str, op: str, width: int) -> None:
    """``plan`` holds exactly one round-robin exchange, of ``width``
    partitions, printed below (feeding) its first ``op`` node."""
    lines = plan.splitlines()
    rr = [i for i, l in enumerate(lines) if "RoundRobinPartitioning" in l]
    assert len(rr) == 1, plan
    assert f"RoundRobinPartitioning({width})" in lines[rr[0]], plan
    top = next(i for i, l in enumerate(lines) if op in l)
    assert rr[0] > top, plan


def test_spread_width_is_default_parallelism(spark):
    from dist_map_reduce_spark.catalog import load_table, spread

    docs = load_table(spark, SF_SMOKE, "documents")
    width = spark.sparkContext.defaultParallelism
    assert spread(docs).rdd.getNumPartitions() == width


@pytest.mark.parametrize(
    "name", ["wordcount", "wordcount_unicode", "wordcount_per_doc_topk"]
)
def test_wordcount_spreads_scan_below_generate(spark, name):
    """The batch word counts spread the one-task documents scan
    before the tokenizing explode (catalog.spread)."""
    _one_round_robin_below(
        _plan(spark, name), "Generate", spark.sparkContext.defaultParallelism
    )


def test_arrow_stats_spreads_scan_below_map_in_arrow(spark):
    plan = (
        registry.STAGED_QUERIES["arrow_text_stats_per_source"](
            spark, SF_SMOKE
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    _one_round_robin_below(
        plan, "MapInArrow", spark.sparkContext.defaultParallelism
    )


def test_warm_ivf_kmeans_search_is_not_spread(spark):
    """Only the slot builders spread the corpus; once the k-means
    and ranking slots exist, the search reads them with no
    round-robin exchange."""
    registry.QUERIES["similarity_ann_ivf_kmeans_topk"](spark, SF_SMOKE)
    plan = _plan(spark, "similarity_ann_ivf_kmeans_topk")
    assert _n_slot_reads(plan) >= 1, plan
    assert "RoundRobinPartitioning" not in plan, plan
