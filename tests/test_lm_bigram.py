"""Interpolated bigram LM: hand-computed fixture + invariants.

Oracle parity at corpus scale is covered by
tests/test_parity.py; here a tiny crafted corpus is scored by
hand in Python (independent arithmetic path) and structural
invariants are pinned on the fixture corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.lm_bigram import (
    LAMBDA,
    doc_bigrams,
    lm_bigram_doc_scores,
)
from tests.conftest import SF_SMOKE


def test_hand_computed_tiny_corpus(spark, tmp_path):
    """3-doc corpus scored by hand: counts are small enough to fold
    manually, and doc 3 (one word) must produce no row."""
    docs = [
        (1, "a b a b"),
        (2, "a b c"),
        (3, "a"),
    ]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    out = str(tmp_path / "documents.parquet")
    sdf.write.mode("overwrite").parquet(out)
    # point load_table's documents at the crafted corpus
    sf_dir = str(tmp_path)

    got = {
        r.doc_id: r
        for r in lm_bigram_doc_scores(spark, sf_dir).collect()
    }

    # unigrams: a=4, b=3, c=1, total=8
    # bigrams: (a,b)=3  (doc1 x2, doc2 x1); (b,a)=1; (b,c)=1
    # contexts: c(a,.)=3, c(b,.)=2
    uni = {"a": 4, "b": 3, "c": 1}
    total = 8
    big = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    ctx = {"a": 3, "b": 2}

    def p(w1, w2):
        return LAMBDA * (big[(w1, w2)] / ctx[w1]) + (1 - LAMBDA) * (
            uni[w2] / total
        )

    def score(pairs):
        lp = sum(c * math.log(p(w1, w2)) for (w1, w2), c in pairs.items())
        n = sum(pairs.values())
        return n, round(lp / n, 6), round(-(lp / n) / math.log(2), 6)

    d1 = score({("a", "b"): 2, ("b", "a"): 1})
    d2 = score({("a", "b"): 1, ("b", "c"): 1})
    assert set(got) == {1, 2}  # the 1-word doc contributes no row
    assert (got[1].n_bigrams, got[1].avg_logprob, got[1].bits_per_token) == d1
    assert (got[2].n_bigrams, got[2].avg_logprob, got[2].bits_per_token) == d2


def test_fixture_corpus_invariants(spark):
    scored = lm_bigram_doc_scores(spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents")
    rows = scored.collect()
    n_docs_2plus = docs.where(F.size(F.split("text", " ")) >= 2).count()
    assert len(rows) == n_docs_2plus
    for r in rows:
        # interpolated probability is a strict mixture < 1 whenever
        # the vocabulary has >1 type, so logprob < 0, bits > 0
        assert r.avg_logprob < 0, r
        assert r.bits_per_token > 0, r
    # n_bigrams == n_tokens - 1 for every scored doc
    tok = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    for r in rows:
        assert r.n_bigrams == tok[r.doc_id] - 1, r


def test_plan_single_scalar_nested_loop(spark):
    """The only nested-loop join in the plan is the sanctioned 1-row
    broadcast scalar (corpus total); every data join is hash-based
    and the aggregates are partial+final HashAggregates."""
    from dist_map_reduce_spark import caching

    # an earlier test may have left LM slots cached (since r13,
    # test_entry smoke-runs the registered quality_ccnet_buckets,
    # which shares this query's subtrees) — the CacheManager would
    # substitute InMemoryTableScan reprs carrying extra join nodes
    caching.clear()
    plan = (
        lm_bigram_doc_scores(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("NestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortAggregate" not in plan, plan


def test_doc_bigrams_counts(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "solo")], ["doc_id", "text"]
    )
    got = sorted(
        (r.doc_id, r.w1, r.w2) for r in doc_bigrams(docs).collect()
    )
    assert got == [(1, "x", "y"), (1, "y", "z")]
