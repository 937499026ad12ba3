"""Mergeable reservoir sampling with a certified merge step
(staged-forever, r16) — the bounded-uniform-sample member of the
mergeable-summaries family (CMS = frequency, Bloom = membership,
KMV/theta/HLL = cardinality, t-digest = quantiles, THIS = sample).

A distributed uniform sample must be mergeable: each group (or
physical partition) keeps a bounded reservoir, and merging
reservoirs must yield exactly the reservoir of the union. Classic
Vitter '85 reservoirs use RNG state and are neither mergeable nor
cross-engine reproducible. The scale-canonical mergeable form is
BOTTOM-K BY RANDOM TAG: give every row a fixed pseudorandom
priority, keep the K smallest; then `merge = union -> bottom-K`,
and the merged reservoir PROVABLY equals the direct bottom-K of the
whole corpus (every global winner is a winner within its own
group). That containment is not assumed here — the query computes
both sides and certifies their rank-aligned equality as output
columns (grade-the-contract, the t-digest discipline).

Determinism: the priority is the first 12 hex digits of
md5('res:' || doc_id) as a 48-bit integer — no RNG, no floats, so
both engines race identically; every ORDER BY tie-breaks on doc_id.
The sample is a true uniform sample over any corpus where doc_id
does not correlate with content (md5 scrambles the id bits), and it
is REPEATABLE across runs/engines — the property a training-data
audit needs ("which 64 documents did we eyeball last week" must not
change under re-execution or engine swap).

Plan shape / 100 TB posture: the per-source reservoirs are a
row_number-over-window filtered to <= K, which Spark's
InferWindowGroupLimit rewrites into WindowGroupLimit(Partial) ->
shuffle -> WindowGroupLimit(Final) — i.e. Spark literally executes
a per-partition bounded reservoir on the map side and merges K-row
survivors on the reduce side; no group is ever fully sorted
(pinned in tests/test_reservoir.py). The direct arm is a global
ORDER BY ... LIMIT K = TakeOrderedAndProject (per-partition heaps,
K rows to the merge). Everything downstream of the two bottom-K
stages is <= K x strata rows. The zero-shuffle production twin
:func:`reservoir_partition_path` builds per-Arrow-batch reservoirs
via mapInPandas (priorities computed JVM-side, the batch keeps a
vectorized nsmallest) and merges with one TakeOrdered — because the
race is deterministic it returns the IDENTICAL sample to the
certified query, an exact engine-vs-engine closed loop (stronger
than t-digest's error-envelope loop) asserted by
tests/test_reservoir.py.

Reference parity: the reference engine has no sampling surface
(word count only, /root/reference/src/worker/worker.go:270-288);
extension surface next to weighted_sample_aes (one-shot weighted
A-ES top-K) and stratified_sample_by_lang (per-stratum rate
sampling) — this adds the bounded-size + certified-merge form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

K = 64  # reservoir size — per stratum AND global (the merge-
# equals-direct certification needs per-stratum K >= global K)

_SALT = "res:"


def _prio(doc_id: F.Column) -> F.Column:
    """48-bit deterministic race tag: first 12 hex of the salted
    md5, as BIGINT (the sampling_aes / postcompaction hash idiom —
    integer end-to-end, so no float-order hazard anywhere)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(_SALT), doc_id.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         ('0x' || substring(md5('{_SALT}' || CAST(doc_id AS VARCHAR)),
                            1, 12))::BIGINT AS prio
  FROM documents
),
res AS (
  SELECT doc_id, source, prio,
         row_number() OVER (PARTITION BY source
                            ORDER BY prio ASC, doc_id ASC) AS src_rank
  FROM base
  QUALIFY src_rank <= {K}
),
merged AS (
  SELECT doc_id, source, prio, src_rank,
         row_number() OVER (ORDER BY prio ASC, doc_id ASC) AS sample_rank
  FROM res
  QUALIFY sample_rank <= {K}
),
direct AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY prio ASC, doc_id ASC) AS sample_rank
  FROM base
  QUALIFY sample_rank <= {K}
),
cert AS (
  SELECT CAST(sum(CASE WHEN m.doc_id = d.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS merged_matches_direct
  FROM merged m JOIN direct d USING (sample_rank)
),
scalars AS (
  SELECT count(*) AS corpus_rows,
         count(DISTINCT source) AS n_strata
  FROM base
)
SELECT m.sample_rank, m.doc_id, m.source, m.prio, m.src_rank,
       c.merged_matches_direct, s.n_strata, s.corpus_rows
FROM merged m, cert c, scalars s
"""


@staged_query("reservoir_merge_sample", oracle=_ORACLE)
def reservoir_merge_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-row global uniform sample built THROUGH per-source
    reservoirs plus the merge certification: (sample_rank, doc_id,
    source, prio, src_rank) per sampled row, with broadcast scalars
    merged_matches_direct (must equal the sample size — the merged
    reservoir is rank-for-rank the direct global bottom-K),
    n_strata, corpus_rows. STAGED-FOREVER under the saturation
    policy (registry docstring)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("prio", _prio(F.col("doc_id")))
    )
    by_prio = [F.col("prio").asc(), F.col("doc_id").asc()]
    src_w = Window.partitionBy("source").orderBy(*by_prio)
    res = (
        base.withColumn("src_rank", F.row_number().over(src_w))
        .filter(F.col("src_rank") <= K)
    )
    # merge = union of per-source reservoirs -> global bottom-K
    # (TakeOrdered over <= strata x K rows); the rank window runs on
    # the already-limited K rows, not the corpus
    merged = (
        res.orderBy(*by_prio)
        .limit(K)
        .withColumn("sample_rank", F.row_number().over(Window.orderBy(*by_prio)))
    )
    direct = (
        base.orderBy(*by_prio)
        .limit(K)
        .withColumn("sample_rank", F.row_number().over(Window.orderBy(*by_prio)))
        .select(F.col("sample_rank").alias("d_rank"), F.col("doc_id").alias("d_doc"))
    )
    cert = (
        merged.join(direct, merged["sample_rank"] == direct["d_rank"])
        .agg(
            F.sum(
                F.when(F.col("doc_id") == F.col("d_doc"), 1).otherwise(0)
            ).alias("merged_matches_direct")
        )
    )
    scalars = base.agg(
        F.count("*").alias("corpus_rows"),
        F.countDistinct("source").alias("n_strata"),
    )
    return (
        merged.select("sample_rank", "doc_id", "source", "prio", "src_rank")
        .crossJoin(cert)  # 1-row broadcast scalar (sanctioned)
        .crossJoin(scalars)  # 1-row broadcast scalar (sanctioned)
        .select(
            "sample_rank",
            "doc_id",
            "source",
            "prio",
            "src_rank",
            "merged_matches_direct",
            "n_strata",
            "corpus_rows",
        )
    )


def reservoir_partition_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION build: per-Arrow-batch bounded reservoirs with
    zero shuffle, merged by one TakeOrdered — the per-physical-
    partition twin of the certified per-source query (the t-digest
    partition_digests shape). Priorities are computed JVM-side
    (same md5 race), so each pandas batch only keeps a vectorized
    bottom-K and the merge is exact: the result is the IDENTICAL
    sample set to reservoir_merge_sample's (deterministic race —
    asserted engine-vs-engine in tests/test_reservoir.py)."""
    import pandas as pd  # noqa: F401 — Arrow path dependency

    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("prio", _prio(F.col("doc_id")))
    )

    def batch_reservoir(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pdf.sort_values(["prio", "doc_id"]).head(K)

    survivors = base.mapInPandas(batch_reservoir, schema=base.schema)
    return (
        survivors.orderBy(F.col("prio").asc(), F.col("doc_id").asc())
        .limit(K)
        .withColumn(
            "sample_rank",
            F.row_number().over(
                Window.orderBy(F.col("prio").asc(), F.col("doc_id").asc())
            ),
        )
        .select("sample_rank", "doc_id", "source", "prio")
    )
