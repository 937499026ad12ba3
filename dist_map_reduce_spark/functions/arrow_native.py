"""Arrow-native mapInArrow text statistics (staged-forever, r16) —
the UDF surface's missing member. The engine exercises pandas_udf,
applyInPandas, mapInPandas, applyInPandasWithState and the UDTF
(SURVEY §2.2 UDF row); ``mapInArrow`` (SPARK-37227) is the
zero-copy sibling: the worker hands the plan's Arrow RecordBatches
straight to Python with NO pandas materialization, and
``pyarrow.compute`` kernels run vectorized C++ over them. For
byte/string-heavy per-row featurization (exactly the multimodal and
text-stats shape) this skips the pandas object-boxing that makes
mapInPandas pay per-string Python overhead — the right default for
any UDF whose body is expressible in Arrow kernels.

The batch body computes, per document: codepoint length
(``utf8_length``), vowel occurrences (the sum of five literal
``count_substring`` kernels, one per vowel — single-character
patterns cannot overlap, so this equals a ``[aeiou]`` regex count
for any string at under half the regex kernel's cost) and
word-run count (``count_substring_regex`` — non-overlapping matches,
the same semantics as DuckDB's ``regexp_extract_all`` length and
Spark's ``regexp_count``). Aggregation stays JVM-side (groupBy
source), so the Python stage is a pure per-batch projection:
stateless, pipelined, nothing crosses batches — the mapInPandas
discipline unchanged (SCALE.md §UDF twins). The documents scan is
``spread`` first: one Python worker per core instead of one per
single-row-group file.

Certification: the DuckDB oracle recomputes all three statistics
relationally; tests additionally pin the Arrow stage against the
pure-JVM twin (F.length / F.regexp_count) row-for-row — the
udf-twins discipline, proving the Arrow kernels implement the same
regex semantics the JVM does on this corpus.

Reference parity: per-document projection + per-key reduce is the
reference's whole programming model (mapFunc/reduceFunc,
/root/reference/src/worker/worker.go:22-23); this is that surface on
the Arrow fast path.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, spread
from dist_map_reduce_spark.registry import staged_query

_VOWELS = "aeiou"
_VOWEL_RE = f"[{_VOWELS}]"
_WORD_RE = "[a-zA-Z]+"

_ORACLE = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(length(text)
                - length(regexp_replace(text, '{_VOWEL_RE}', '', 'g')))
            AS BIGINT) AS n_vowels,
       CAST(sum(array_length(regexp_extract_all(text, '{_WORD_RE}')))
            AS BIGINT) AS n_words
FROM documents
GROUP BY source
"""

_OUT_SCHEMA = (
    "source string, n_chars long, n_vowels long, n_words long"
)


def _arrow_stats(batches: Iterator) -> Iterator:
    """RecordBatch -> RecordBatch, all pyarrow.compute kernels — no
    pandas anywhere (the point of the exercise)."""
    import functools

    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column("text")
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("source"),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(
                    functools.reduce(
                        pc.add,
                        (pc.count_substring(text, v) for v in _VOWELS),
                    ),
                    pa.int64(),
                ),
                pc.cast(
                    pc.count_substring_regex(text, _WORD_RE), pa.int64()
                ),
            ],
            names=["source", "n_chars", "n_vowels", "n_words"],
        )


def arrow_stats_rows(docs: DataFrame) -> DataFrame:
    """Per-document (source, n_chars, n_vowels, n_words) via the
    Arrow-native stage."""
    return docs.select("source", "text").mapInArrow(
        _arrow_stats, schema=_OUT_SCHEMA
    )


def jvm_stats_rows(docs: DataFrame) -> DataFrame:
    """Pure-JVM twin of :func:`arrow_stats_rows` (the udf-twins
    discipline — same rows, no Python worker)."""
    return docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count("text", F.lit(_VOWEL_RE)).cast("long").alias(
            "n_vowels"
        ),
        F.regexp_count("text", F.lit(_WORD_RE)).cast("long").alias(
            "n_words"
        ),
    )


@staged_query("arrow_text_stats_per_source", oracle=_ORACLE)
def arrow_text_stats_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, n_docs, n_chars, n_vowels, n_words): corpus text
    statistics whose per-document projection runs as a mapInArrow
    stage (pyarrow.compute kernels, zero pandas), aggregated
    JVM-side. STAGED-FOREVER under the saturation policy
    (registry docstring)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        arrow_stats_rows(docs)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_vowels").alias("n_vowels"),
            F.sum("n_words").alias("n_words"),
        )
    )
