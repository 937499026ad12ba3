"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
SIGMOD 2003 — the MOSS algorithm).

``text_fingerprint`` hashes whole documents; winnowing selects a
GUARANTEED-coverage subset of local k-gram hashes: from every window
of W consecutive char-k-gram hashes keep the minimum (rightmost on
ties), so any shared substring of length ≥ K + W − 1 between two
documents shares at least one selected fingerprint. That local
guarantee is what makes it the standard index for partial-overlap /
plagiarism-style near-dup detection, complementing MinHash (whole-doc
similarity) and the duplicated-span detector (corpus-frequency
based).

Implementation is one narrow projection — per document: k-gram
hashes (md5-derived 32-bit ints, the engine-portable hash used by
A-ES sampling), per-window min via array expressions, rightmost-tie
position arithmetic (s + W − position-in-reversed-slice), and each
selected (pos, fp) packed into pos·2³² + fp — struct-free, so the
identical formula runs in Spark higher-order functions and DuckDB
list functions and sorts deterministically as plain integers. Zero
shuffles before the per-doc summary; the exploded (doc_id, pos, fp)
index form is one ``explode`` away and joins
fingerprint-to-fingerprint for match detection at corpus scale.

Output is the per-doc summary (n_grams, n_fingerprints, the md5 of
the position-ordered fingerprint list) — every selected fingerprint
and its position participates in the hash, so a single mis-selected
window anywhere mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, spread
from dist_map_reduce_spark.registry import query

K_GRAM = 16  # char k-gram length
W_WIN = 8  # winnowing window (guarantee threshold = K_GRAM + W_WIN - 1)
_P32 = 4294967296  # 2^32: (pos, fp) packs as pos * 2^32 + fp


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, fps) — the selected fingerprint set per
    document, each as pos·2³² + fp (1-based gram position, 32-bit
    md5-derived gram hash). Pure array expressions, zero shuffles;
    the guarantee property (any shared substring of length
    ≥ K+W−1 shares a fingerprint) is pinned against a Python
    reference in tests/test_bpe_encode.py."""
    docs = docs.where(F.length("text") >= K_GRAM + W_WIN - 1)
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - K_GRAM + 1),
        lambda i: F.conv(
            F.substring(F.md5(F.col("text").substr(i, F.lit(K_GRAM))), 1, 8),
            16,
            10,
        ).cast("bigint"),
    )
    h = docs.select("doc_id", hs.alias("hs"))

    # Per window, one O(W) aggregate pass tracks (min, rightmost
    # argmin) directly — r16 rewrite of the original
    # slice/reverse/array_position/array_min form, which evaluated
    # ~6 O(W) array passes (plus 3 array allocations) per window for
    # the same value. Equivalence: the old formula
    #   s + W − array_position(reverse(slice), min)
    # resolves to the rightmost 1-based index j of the window minimum
    # (reversed position of the min's FIRST reversed occurrence is
    # its rightmost original occurrence), and `<=` in the fold keeps
    # the later index on ties, so packed = j·2³² + min is identical
    # bit for bit. Oracle text unchanged; parity pinned by the
    # text_winnow_fingerprints oracle and the Python reference test.
    def _win_packed(s):
        return F.aggregate(
            F.sequence(s + F.lit(1), s + F.lit(W_WIN - 1)),
            F.struct(
                F.element_at(F.col("hs"), s).alias("m"),
                s.cast("bigint").alias("p"),
            ),
            lambda acc, j: F.when(
                F.element_at(F.col("hs"), j) <= acc["m"],
                F.struct(
                    F.element_at(F.col("hs"), j).alias("m"),
                    j.cast("bigint").alias("p"),
                ),
            ).otherwise(acc),
            lambda acc: acc["p"] * F.lit(_P32) + acc["m"],
        )

    packed = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - W_WIN + 1), _win_packed
        )
    )
    return h.select(
        "doc_id", F.size("hs").alias("n_grams"), packed.alias("fps")
    )


@query(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(text) - {K_GRAM} + 1),
               i -> ('0x' || substring(md5(text[i : i + {K_GRAM} - 1]),
                                       1, 8))::BIGINT
             ) AS hs
      FROM documents
      WHERE len(text) >= {K_GRAM} + {W_WIN} - 1
    ),
    sel AS (
      SELECT doc_id, len(hs) AS n_grams,
             list_distinct(list_transform(
               generate_series(1, len(hs) - {W_WIN} + 1),
               s -> (s + {W_WIN}
                     - list_position(list_reverse(hs[s : s + {W_WIN} - 1]),
                                     list_min(hs[s : s + {W_WIN} - 1])))
                    * {_P32} + list_min(hs[s : s + {W_WIN} - 1])
             )) AS fps
      FROM h
    )
    SELECT doc_id,
           n_grams,
           len(fps) AS n_fingerprints,
           md5(array_to_string(
             list_transform(
               list_sort(fps),
               v -> CAST(v // {_P32} AS VARCHAR) || ':'
                    || CAST(v % {_P32} AS VARCHAR)),
             ',')) AS fingerprints_md5
    FROM sel
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing summary: k-gram count, selected
    fingerprint count, and the md5 over the position-ordered
    ``pos:fp`` list. Documents shorter than K+W−1 chars have no full
    window and produce no row (both engines). Positions are 1-based
    gram indexes; fp values are 32-bit, so the pack/unpack arithmetic
    is exact in BIGINT."""
    docs = load_table(spark, sf_dir, "documents")
    sel = winnow_fingerprints(docs)
    return sel.select(
        "doc_id",
        "n_grams",
        F.size("fps").alias("n_fingerprints"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort("fps"),
                    lambda v: F.concat(
                        F.shiftright(v, 32).cast("string"),
                        F.lit(":"),
                        (v % F.lit(_P32)).cast("string"),
                    ),
                ),
            )
        ).alias("fingerprints_md5"),
    )


MAX_FP_DOCS = 100  # hot-fingerprint cap (Cap policy table, SCALE.md)


def winnow_match_pairs(docs: DataFrame, min_shared: int = 2) -> DataFrame:
    """Partial-overlap detection over the winnowing index:
    (doc_a, doc_b, n_shared_fps) for document pairs sharing at least
    ``min_shared`` fingerprint VALUES — the winnowing guarantee makes
    every shared substring of length ≥ K+W−1 contribute at least one,
    so copied passages surface even between globally dissimilar
    documents (the case MinHash whole-doc similarity misses).

    Scale shape: the same capped inverted-index postings pattern as
    MinHash banding — distinct (fp, doc) rows group per fingerprint,
    fingerprints held by more than MAX_FP_DOCS documents are dropped
    count-first (boilerplate fingerprints are exactly the degenerate
    keys), and i<j pairs come straight off each sorted posting list:
    per-fp fan-out ≤ C(cap, 2), never corpus². One shuffle keyed by
    fingerprint, one pair aggregation."""

    # explode_OUTER, deliberately: plain explode triggers
    # InferFiltersFromGenerate, which pushes `size(fps) > 0 AND
    # isnotnull(fps)` below the projections with the ENTIRE fps
    # expression inlined — and inside lambda bodies Spark performs no
    # common-subexpression elimination, so every window slice
    # re-evaluates the full k-gram md5 array: O(windows × W × grams)
    # per document instead of O(grams). Measured 550 s → 4 s at
    # sf0.001 (tests/test_winnow_explode_plan.py pins the plan).
    # fps is never null/empty here (winnow_fingerprints pre-filters
    # length ≥ K+W−1, guaranteeing ≥ 1 window), so OUTER emits
    # exactly the same rows.
    # pre-projection spread: the winnow expression is the expensive
    # stage (~1 ms/doc of md5 + window mins; see catalog.spread —
    # measured 6.5 s -> sub-second at sf0.1)
    docs = spread(docs)
    from pyspark.sql import Window as W

    fp_docs = (
        winnow_fingerprints(docs)
        .select("doc_id", F.explode_outer("fps").alias("packed"))
        .select("doc_id", (F.col("packed") % F.lit(_P32)).alias("fp"))
        .distinct()
    )
    # drop-count-first cap (the SCALE.md degenerate-key policy): the
    # count window partitioned by fp cuts a hot fingerprint BEFORE
    # collect_list, so no unbounded per-group list buffer ever
    # materializes (WindowExec spills a hot key's rows; an agg
    # buffer cannot), and the groupBy reuses the window's fp
    # partitioning — cap, posting build and shuffle are one exchange.
    postings = (
        fp_docs.withColumn("n_docs", F.count("*").over(W.partitionBy("fp")))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= MAX_FP_DOCS))
        .groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )
    pairs = postings.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ds) - 2), "
                "i -> transform(sequence(i + 1, size(ds) - 1), "
                "j -> struct(ds[i] AS doc_a, ds[j] AS doc_b))))"
            )
        ).alias("p")
    ).select("p.*")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def winnow_decontaminate(
    train: DataFrame, eval_docs: DataFrame, min_shared: int = 2
) -> DataFrame:
    """Substring-level decontamination: flag TRAIN documents sharing
    at least ``min_shared`` winnowing fingerprint values with ANY
    eval document. The guarantee makes any verbatim overlap of
    length ≥ K+W−1 chars contribute a fingerprint, so this catches
    quoted eval passages that n-gram-set decontamination
    (`decontaminate_against_eval`, token-level) can miss under
    tokenization drift — and vice versa; production pipelines run
    both.

    Returns (doc_id, n_eval_hits, n_shared_fps): one row per
    CONTAMINATED train doc — n_eval_hits distinct eval docs matched,
    n_shared_fps total shared (train_fp, eval_doc) fingerprint
    pairs. Scale shape: both corpora reduce to distinct (fp, doc)
    rows; the only join is the fp equi-join, with the same
    MAX_FP_DOCS drop-count-first cap on the TRAIN side (boilerplate
    fingerprints), and the eval side is benchmark-sized — AQE
    broadcasts it."""

    # explode_OUTER on both sides — see winnow_match_pairs: plain
    # explode infers a size/isnotnull filter that inlines the whole
    # winnow pipeline per window slice (no CSE inside lambdas);
    # pre-projection spread for the same single-split reason
    train = spread(train)
    eval_docs = spread(eval_docs)
    from pyspark.sql import Window as W

    # drop-count-first cap on the TRAIN side (the SCALE.md
    # degenerate-key policy — see winnow_match_pairs): the count
    # window cuts hot fingerprints before any per-group buffering.
    t_fp = (
        winnow_fingerprints(train)
        .select("doc_id", F.explode_outer("fps").alias("p"))
        .select("doc_id", (F.col("p") % F.lit(_P32)).alias("fp"))
        .distinct()
        .withColumn("n_docs", F.count("*").over(W.partitionBy("fp")))
        .filter(F.col("n_docs") <= MAX_FP_DOCS)
        .drop("n_docs")
    )
    e_fp = (
        winnow_fingerprints(eval_docs)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode_outer("fps").alias("p"),
        )
        .select("eval_id", (F.col("p") % F.lit(_P32)).alias("fp"))
        .distinct()
    )
    return (
        t_fp.join(e_fp, "fp")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").alias("n_eval_hits"),
            F.count("*").alias("n_shared_fps"),
        )
        .filter(F.col("n_shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Queries over the library functions above (staged r9, PROMOTED to
# @query in r11 after every-run parity coverage). The fixture corpus is synthetic word soup with
# essentially no organic >=23-char verbatim overlaps, so each query
# deterministically PLANTS a shared passage into a doc_id-keyed
# subset before detection — the pii_redact_docs discipline: the
# plumbing under test is the detector, and the oracle mirrors the
# planting exactly.

# >= K_GRAM + W_WIN - 1 chars so the winnowing guarantee applies to
# the planted passage alone; long enough to select several
# fingerprints, so the min_shared=2 bar is met deterministically.
_PASSAGE = (
    "the quick brown fox jumps over the lazy dog while the band plays on"
)

_PLANT_PAIRS_SQL = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 97 = 0 THEN text || ' {_PASSAGE}'
                ELSE text END AS text
    FROM documents
"""

_PLANT_DECON_SQL = f"""
    SELECT doc_id, source,
           CASE WHEN doc_id % 50 = 0 THEN text || ' {_PASSAGE}'
                ELSE text END AS text
    FROM documents
"""


def _winnow_fp_sql(src: str) -> str:
    """DuckDB CTE body: DISTINCT (doc_id, fp) winnowing fingerprint
    VALUES over ``src`` (must yield doc_id, text) — the oracle mirror
    of winnow_fingerprints + explode + value-unpack."""
    return f"""
      SELECT DISTINCT doc_id, v % {_P32} AS fp
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 generate_series(1, len(hs) - {W_WIN} + 1),
                 s -> (s + {W_WIN}
                       - list_position(
                           list_reverse(hs[s : s + {W_WIN} - 1]),
                           list_min(hs[s : s + {W_WIN} - 1])))
                      * {_P32} + list_min(hs[s : s + {W_WIN} - 1])
               ))) AS v
        FROM (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, len(text) - {K_GRAM} + 1),
                   i -> ('0x' || substring(md5(text[i : i + {K_GRAM} - 1]),
                                           1, 8))::BIGINT
                 ) AS hs
          FROM ({src})
          WHERE len(text) >= {K_GRAM} + {W_WIN} - 1
        )
      )
    """


@query(
    "text_winnow_match_pairs",
    oracle=f"""
    WITH fpd AS ({_winnow_fp_sql(_PLANT_PAIRS_SQL)}),
    cnt AS (SELECT fp, count(*) AS n FROM fpd GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fpd a
      JOIN fpd b USING (fp)
      JOIN cnt USING (fp)
      WHERE cnt.n BETWEEN 2 AND {MAX_FP_DOCS} AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, count(*) AS n_shared_fps
    FROM pairs GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def text_winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs over the winnowing index, on the corpus
    with a copied passage planted into every 97th document — every
    planted pair must surface via the >= K+W-1 guarantee. Capped
    inverted-index postings (winnow_match_pairs): per-fingerprint
    fan-out <= C(MAX_FP_DOCS, 2), never corpus²."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0,
            F.concat("text", F.lit(f" {_PASSAGE}")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return winnow_match_pairs(planted, min_shared=2)


_EVAL_SOURCE = "src0"  # the curation.py decontamination split


@query(
    "text_winnow_decontaminate",
    oracle=f"""
    WITH planted AS ({_PLANT_DECON_SQL}),
    t_fp AS (
      SELECT doc_id, fp FROM ({_winnow_fp_sql(
          "SELECT doc_id, text FROM planted "
          f"WHERE source <> '{_EVAL_SOURCE}'"
      )})
    ),
    tcnt AS (SELECT fp, count(*) AS n FROM t_fp GROUP BY 1),
    t_capped AS (
      SELECT t_fp.doc_id, t_fp.fp
      FROM t_fp JOIN tcnt USING (fp)
      WHERE tcnt.n <= {MAX_FP_DOCS}
    ),
    e_fp AS (
      SELECT doc_id AS eval_id, fp FROM ({_winnow_fp_sql(
          "SELECT doc_id, text FROM planted "
          f"WHERE source = '{_EVAL_SOURCE}'"
      )})
    )
    SELECT doc_id,
           count(DISTINCT eval_id) AS n_eval_hits,
           count(*) AS n_shared_fps
    FROM t_capped JOIN e_fp USING (fp)
    GROUP BY 1
    HAVING count(*) >= 2
    """,
)
def text_winnow_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level train-vs-eval decontamination on the corpus
    with an eval passage planted into every 50th document (landing in
    BOTH splits, so flagged train docs are guaranteed): train docs
    (source != src0) sharing >= 2 winnowing fingerprint values with
    any eval (src0) doc are flagged with hit counts. fp equi-join
    only; train side hot-fingerprint-capped, eval side
    benchmark-sized (winnow_decontaminate)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat("text", F.lit(f" {_PASSAGE}")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    train = planted.filter(F.col("source") != _EVAL_SOURCE)
    ev = planted.filter(F.col("source") == _EVAL_SOURCE)
    return winnow_decontaminate(train, ev, min_shared=2)
