"""Deterministic shuffle-shard export: layout, order, determinism.

Manifest-vs-oracle parity is covered by tests/test_parity.py;
these tests pin the physical layout properties the manifest alone
cannot see: within-file sort order, write determinism, and shard
balance.
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.shard_export import (
    N_SHARDS,
    sharded_docs,
    write_training_shards,
)
from tests.conftest import SF_SMOKE


def test_shard_files_sorted_and_complete(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out)

    shard_dirs = sorted(glob.glob(out + "/shard=*"))
    assert len(shard_dirs) == N_SHARDS

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()

    # every shard file is sorted by sort_key (read per shard dir;
    # parquet readers preserve row order within a file, and each
    # shard is one file)
    for d in shard_dirs:
        files = glob.glob(d + "/*.parquet")
        assert len(files) == 1, d
        keys = [r.sort_key for r in spark.read.parquet(d).collect()]
        assert keys == sorted(keys), d


def test_export_is_deterministic(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(docs, a)
    write_training_shards(docs, b)
    rows_a = sorted(
        (r.shard, r.sort_key, r.doc_id)
        for r in spark.read.parquet(a).collect()
    )
    rows_b = sorted(
        (r.shard, r.sort_key, r.doc_id)
        for r in spark.read.parquet(b).collect()
    )
    assert rows_a == rows_b


def test_shard_balance(spark):
    """Uniform hash sharding: no shard beyond 2x the mean at fixture
    size (binomial concentration — a systematic skew bug, e.g.
    sharding on a biased byte, lands far outside this)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    counts = [
        r.n
        for r in sharded_docs(docs)
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == N_SHARDS
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2 * mean, counts
    assert min(counts) >= 0.3 * mean, counts


def test_manifest_plan_stays_in_hash_aggregate(spark):
    """The manifest's key range is a bigint prefix precisely so the
    corpus-scale aggregate stays in HashAggregate — a string min/max
    would fall back to SortAggregate (per-partition sort)."""
    from dist_map_reduce_spark.functions.shard_export import (
        corpus_shard_manifest,
    )

    plan = (
        corpus_shard_manifest(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_epoch_salt_changes_order_not_membership(spark):
    """Bumping the salt must reshuffle (different layout) while
    keeping membership — the epoch-reshuffle property."""
    import dist_map_reduce_spark.functions.shard_export as se

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    base = {(r.doc_id, r.shard) for r in sharded_docs(docs).collect()}
    old = se.SALT
    try:
        se.SALT = "shuffle:e1:"
        other = {(r.doc_id, r.shard) for r in sharded_docs(docs).collect()}
    finally:
        se.SALT = old
    assert {d for d, _ in base} == {d for d, _ in other}
    assert base != other  # at least one doc moved shards


def test_empty_corpus_export(spark, tmp_path):
    """An empty corpus writes no shard files and reads back empty —
    the writer must not fail on zero rows (a filtered-out cascade
    can legitimately produce an empty export)."""
    import glob as _glob

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = str(tmp_path / "empty")
    write_training_shards(empty, out)
    assert _glob.glob(out + "/shard=*") == []
