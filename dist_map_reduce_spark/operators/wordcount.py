"""Flagship query: word count.

The reference's one built-in application (reference:
src/worker/worker.go:270-288): tokenize each document on non-letter
runs, emit (word, 1), shuffle by hash(word), sort, group, count.

Spark realization is a single declarative plan —
``explode(split) → filter → groupBy.count`` — which is strictly
stronger than the reference's pipeline: Catalyst inserts map-side
partial aggregation (the combiner the reference lacks, SURVEY.md
§2.3(4)), the scan prunes to the ``text`` column only, and AQE sizes
the post-shuffle partition count instead of the hard-coded 4
(reference: src/master/master.go:341). The batch queries ``spread``
the documents scan first (one-row-group fixture = one task; the
split-heavy tokenize is the whole cost); ``words`` itself does not,
because the streaming word count shares it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, spread
from dist_map_reduce_spark.registry import query

# Tokenize on non-letter runs, exactly the reference's
# unicode.IsLetter-complement tokenizer (worker.go:271-275) restricted
# to ASCII (fixture text is lowercase ASCII word soup, FIXTURES.md).
TOKEN_PATTERN = "[^a-zA-Z]+"

# General (multilingual) tokenizer: the full unicode.IsLetter
# complement. Java regex and DuckDB's RE2 both support the \p{L}
# Unicode property class with identical letter semantics, so the
# same pattern text serves both sides of the oracle check.
TOKEN_PATTERN_UNICODE = r"[^\p{L}]+"


def words(docs: DataFrame, pattern: str = TOKEN_PATTERN) -> DataFrame:
    """documents(text) -> one row per token: (doc_id, word)."""
    return (
        docs.select("doc_id", F.explode(F.split("text", pattern)).alias("word"))
        .filter(F.col("word") != "")
    )


def word_count(docs: DataFrame) -> DataFrame:
    return words(docs).groupBy("word").agg(F.count("*").alias("cnt"))


@query(
    "wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(text, '[^a-zA-Z]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_count(spread(load_table(spark, sf_dir, "documents")))


@query(
    "wordcount_per_doc_topk",
    oracle="""
    WITH wc AS (
      SELECT doc_id, word, count(*) AS cnt
      FROM (
        SELECT doc_id, unnest(string_split_regex(text, '[^a-zA-Z]+')) AS word
        FROM documents
      )
      WHERE word <> ''
      GROUP BY doc_id, word
    )
    SELECT doc_id, word, cnt
    FROM (
      SELECT doc_id, word, cnt,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, word ASC
             ) AS rn
      FROM wc
    )
    WHERE rn <= 3
    """,
)
def q_wordcount_per_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 words per document — per-group top-k over the flagship.

    Deterministic tie-break on (cnt DESC, word ASC) so the oracle
    row set is unique.
    """
    from pyspark.sql import Window as W

    wc = (
        words(spread(load_table(spark, sf_dir, "documents")))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("word").asc())
    return (
        wc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "cnt")
    )


@query(
    "wordcount_unicode",
    oracle=r"""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_wordcount_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count with the GENERAL tokenizer: split on runs of
    non-letters under the Unicode definition (``[^\\p{L}]+``) — the
    exact semantics of the reference's unicode.IsLetter complement
    (worker.go:271-275), where the ASCII ``TOKEN_PATTERN`` is only
    the fixture-pinned restriction. On the ASCII fixture both
    tokenizers coincide (digits/underscores are non-letters under
    both); on a multilingual corpus this variant keeps accented and
    non-Latin words intact while the ASCII one would shred them.
    Same plan shape as ``wordcount`` — the pattern is evaluated
    inside codegen'd ``split``, no Python in the path.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        words(docs, pattern=TOKEN_PATTERN_UNICODE)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
