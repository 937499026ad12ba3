"""Boilerplate n-gram extraction (corpus-level template detection).

Web corpora are full of boilerplate — cookie banners, navigation
text, license headers — that near-dup removal misses because the
surrounding documents differ. The standard counter (used in CCNet /
RefinedWeb-style cleaning) is document frequency at the n-gram
level: an n-gram present in a large FRACTION of all documents is
template text, and the extracted list drives a removal/masking pass.

This module extracts that list: 3-gram document frequencies, kept
where df exceeds a corpus-fraction threshold. Distinct from
``text_dup_ngram_fraction`` (a per-DOCUMENT duplication score) —
this is the corpus-side dictionary the cleaning pass consumes.

Scale posture (100 TB): per-(doc, gram) dedup happens inside the
first aggregation (grams shuffle once, keyed by gram+doc), the df
count reuses the gram clustering, and the corpus size joins in as a
1-row broadcast scalar (the sanctioned scalar-aggregate crossJoin
pattern) — no second scan of the corpus, no all-pairs stage. Output
size is bounded by the df threshold: only grams above the df cut
survive, a set that grows with template diversity, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, spread
from dist_map_reduce_spark.functions.text_dupngrams import doc_ngrams
from dist_map_reduce_spark.registry import query

N = 3  # boilerplate granularity: 3-grams
DF_FRAC = 0.01  # a gram in >1% of documents is template text


def boilerplate_ngrams(
    docs: DataFrame, n: int = N, df_frac: float = DF_FRAC
) -> DataFrame:
    """(gram, n_docs_with, df_frac) for every n-gram whose document
    frequency exceeds ``df_frac`` of the corpus.

    ``count_distinct(doc_id)`` keyed by gram plans as partial
    (gram, doc_id) dedup map-side, one exchange of the deduped pairs,
    then a second exchange carrying only per-partition partial COUNTS
    (one row per gram per partition) — versus the naive two-step
    (group by (doc, gram), then re-shuffle that whole table by gram),
    whose second exchange carries every (doc, gram) pair again.
    Within-document repetition collapses map-side either way; the win
    is the second shuffle's width. The gram explode runs on a
    ``catalog.spread`` corpus, so it uses every core even though the
    fixture scan is one task."""
    df_counts = (
        doc_ngrams(spread(docs), n)
        .groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs_with"))
    )
    total = docs.agg(F.count("*").alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(total))
        .where(F.col("n_docs_with") > F.col("n_docs") * F.lit(df_frac))
        .select(
            "gram",
            "n_docs_with",
            F.round(
                F.col("n_docs_with") * F.lit(1.0) / F.col("n_docs"), 6
            ).alias("df_frac"),
        )
    )


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i + {N - 1}], ' ') AS gram
      FROM w, LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {N - 1})) AS i
      ) t
    ),
    df AS (SELECT gram, count(*) AS n_docs_with FROM g GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT gram, n_docs_with,
           round(n_docs_with * 1.0 / n_docs, 6) AS df_frac
    FROM df, n
    WHERE n_docs_with > n_docs * {DF_FRAC}
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's boilerplate dictionary: every 3-gram present in
    more than 1% of documents, with its document frequency. The cut
    is a deployment knob (real web corpora use 0.1-5% depending on
    crawl breadth); 1% exercises the operator with a non-empty
    extract on the synthetic fixtures."""
    return boilerplate_ngrams(load_table(spark, sf_dir, "documents"))
