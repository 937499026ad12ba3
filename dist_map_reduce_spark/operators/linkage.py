"""Fuzzy record linkage: blocked edit-distance matching.

Entity resolution / record linkage is the string-side sibling of
embedding near-dup: find pairs whose TEXT is within a small edit
distance, without an n² comparison. The standard shape (used by
every dedupe/linkage system) is BLOCKING: a cheap deterministic key
(here: the first 6 characters) partitions candidates, pairs are
generated only within a block, and oversized blocks are dropped by a
cap — the same bounded-candidates discipline as the MinHash bands
and the lexical-cosine df cut, and the same cap-mirrored-in-oracle
contract (capped semantics are what is verified).

``levenshtein`` is the classic Wagner–Fischer edit distance in both
engines — integer, deterministic, identical. Cost is O(len²) per
pair, so the blocking cap is doing real work: total cost is
(#blocks × cap²/2) distances, never corpus².

Scale posture: one shuffle keyed by block, per-block fan-out ≤
C(BLOCK_CAP, 2); at 100 TB the block key would take a longer prefix
(or a phonetic/normalized key) to keep blocks near the cap. The
pair join is an equi-join on the block key with the distance as a
post-filter — no theta join anywhere.

Reference parity note: the reference ships word count only
(reference: src/worker/worker.go:270-288); this exercises the same
generic map/shuffle/reduce surface (src/worker/worker.go:131-218).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, spread
from dist_map_reduce_spark.registry import query

BLOCK_LEN = 6  # blocking key: first BLOCK_LEN characters
BLOCK_CAP = 30  # blocks larger than this are dropped (mirrored in oracle)
MAX_DIST = 50  # match threshold


@query(
    "fuzzy_match_pairs",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, substr(text, 1, {BLOCK_LEN}) AS blk
      FROM documents
    ),
    keep AS (
      SELECT blk FROM b GROUP BY blk
      HAVING count(*) BETWEEN 2 AND {BLOCK_CAP}
    ),
    k AS (SELECT b.* FROM b JOIN keep USING (blk))
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           levenshtein(x.text, y.text) AS edit_dist
    FROM k x JOIN k y ON x.blk = y.blk AND x.doc_id < y.doc_id
    WHERE levenshtein(x.text, y.text) <= {MAX_DIST}
    """,
)
def fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs within MAX_DIST edit distance, candidates
    generated by prefix blocking (block sizes capped at BLOCK_CAP).
    Levenshtein is evaluated once per candidate pair JVM-side; both
    engines implement the identical classic DP."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, BLOCK_LEN).alias("blk")
    )
    # ONE aggregate builds the blocks (array size IS the block size,
    # so the cap needs no separate count+join), i<j pairs come
    # straight off the sorted array — the same single-shuffle
    # postings pattern as lexical_cosine_pairs / ngram_jaccard
    grouped = (
        docs.groupBy("blk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "text"))
            ).alias("ds")
        )
        .where((F.size("ds") >= 2) & (F.size("ds") <= BLOCK_CAP))
    )
    cands = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ds) - 2), "
                    "i -> transform(sequence(i + 1, size(ds) - 1), "
                    "j -> struct(ds[i].doc_id AS doc_a, "
                    "ds[j].doc_id AS doc_b, "
                    "ds[i].text AS ta, ds[j].text AS tb))))"
                )
            ).alias("p")
        )
        .select("p.*")
        # length pruning: |len(a) − len(b)| ≤ MAX_DIST is a NECESSARY
        # condition for edit distance ≤ MAX_DIST, so this drops only
        # pairs the DP would reject anyway (4.7× fewer DP calls on
        # the fixtures; the oracle needs no mirror — results are
        # identical)
        .where(F.abs(F.length("ta") - F.length("tb")) <= MAX_DIST)
    )
    # the candidate table is byte-small but each row carries an
    # O(len²) DP — spread it before the distance stage, or AQE
    # coalesces it to one partition (the triangle-intersect pattern)
    # thresholded levenshtein: Spark's banded DP stops exploring
    # cells that cannot come back under MAX_DIST (O(len·k) instead of
    # O(len²)) and returns -1 above the threshold — so the filter is
    # `>= 0`, results identical to the unbounded DP + `<= MAX_DIST`
    # (DuckDB has no banded variant; the oracle's unbounded DP gives
    # the same surviving rows by definition)
    return (
        spread(cands)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb", MAX_DIST).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )
