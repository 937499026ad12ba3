"""Semantic contracts of the sketch family (r14 trio + r15 theta
algebra) — properties the cross-engine parity tests can't state
(parity proves Spark == DuckDB; these prove both compute a CORRECT
sketch):

- count-min: the estimate NEVER undercounts, for every word in the
  vocabulary (the query's top-10 output window could hide a tail
  undercount, so the full-vocabulary check runs on the library
  internals);
- Bloom: zero false negatives on the planted members, and a false-
  positive rate in the rough band the m=8·n / k=3 construction
  predicts (loose bounds — the point is "a real filter, neither
  degenerate-empty nor degenerate-full");
- KMV / theta set algebra: self-pair calibration rows, exact-arm
  identities, loose-but-meaningful error bands, and the exact-mode
  degenerate case below K on a synthetic tiny corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from dist_map_reduce_spark import caching, registry
from tests.conftest import SF_SMOKE

registry.load_staged()


def test_cms_never_undercounts_any_word(spark):
    """min over CMS rows of non-negative cell sums that each include
    the word's own count can never be below the exact count — checked
    for EVERY vocabulary word, not just the query's top-10."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.text_cms import (
        CMS_DEPTH,
        _bucket,
    )

    caching.clear()
    docs = load_table(spark, SF_SMOKE, "documents")
    counts = (
        docs.select(F.explode(F.split("text", "[^a-zA-Z]+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n_exact"))
    )
    cells = reduce(
        DataFrame.unionAll,
        [
            counts.select(
                "word", "n_exact",
                F.lit(s).alias("seed"),
                _bucket(F.col("word"), s).alias("bucket"),
            )
            for s in range(CMS_DEPTH)
        ],
    )
    grid = cells.groupBy("seed", "bucket").agg(
        F.sum("n_exact").alias("cell_sum")
    )
    est = (
        cells.join(grid, ["seed", "bucket"])
        .groupBy("word", "n_exact")
        .agg(F.min("cell_sum").alias("n_cms"))
    )
    n_under = est.filter(F.col("n_cms") < F.col("n_exact")).count()
    assert n_under == 0
    # and the sketch is not vacuously exact: some word collides
    n_over = est.filter(F.col("n_cms") > F.col("n_exact")).count()
    assert n_over > 0, "W=64 over this vocabulary should collide"


def test_bloom_contract_on_fixture(spark):
    """Planted members are all flagged (no false negatives); false
    positives exist but stay far below degenerate-full."""
    caching.clear()
    pdf = registry.STAGED_QUERIES["text_bloom_decontaminate"](
        spark, SF_SMOKE
    ).toPandas()
    members = pdf[pdf.exact_member]
    assert len(members) > 0, "the plant guarantees real members"
    assert bool(members.bloom_hit.all()), "Bloom false negative"
    nonmembers = pdf[~pdf.exact_member]
    fp_rate = float(nonmembers.bloom_hit.mean())
    assert 0.0 < fp_rate < 0.15, (
        f"fp_rate={fp_rate}: the m=8n/k=3 construction should sit "
        "around a few percent — 0 is degenerate, >15% is broken"
    )


def test_kmv_contract_on_fixture(spark):
    """Self-pairs read exactly 1.0 on both arms (built-in
    calibration), and the K=64 estimate tracks the exact Jaccard
    within a loose-but-meaningful band on the off-diagonal pairs."""
    caching.clear()
    pdf = registry.STAGED_QUERIES["text_kmv_source_jaccard"](
        spark, SF_SMOKE
    ).toPandas()
    selfp = pdf[pdf.source_a == pdf.source_b]
    assert len(selfp) > 0
    assert bool((selfp.exact_jacc == 1.0).all())
    assert bool((selfp.kmv_jacc == 1.0).all())
    offp = pdf[pdf.source_a != pdf.source_b]
    assert len(offp) > 0
    # estimates live in [0, 1] and are not degenerate-constant
    assert float(offp.kmv_jacc.min()) >= 0.0
    assert float(offp.kmv_jacc.max()) <= 1.0
    assert offp.exact_jacc.nunique() > 1, "degenerate exact arm"
    # sketch accuracy: loose band (observed MAE ~0.016 at K=64)
    mae = float((offp.kmv_jacc - offp.exact_jacc).abs().mean())
    assert mae < 0.1, f"KMV estimate off the rails: MAE={mae}"


def test_bloom_degrades_gracefully_on_empty_eval_split(tmp_path, spark):
    """ADVICE r14: with ZERO eval ('src0') documents, m_bits would be
    8·0 = 0 — Spark's `% 0` yields NULL buckets and DuckDB's `% 0`
    errors. The greatest(m_bits, 1) guard on BOTH sides must turn
    that into a graceful degrade: the query runs on each engine, the
    engines agree, and no train doc is flagged (an empty filter
    matches nothing)."""
    import duckdb
    import pyarrow.parquet as pq
    import pyarrow.compute as pc
    import os

    src = os.path.join(SF_SMOKE, "documents.parquet")
    t = pq.read_table(src)
    t = t.filter(pc.not_equal(pc.field("source"), "src0"))
    assert t.num_rows > 0
    sf_dir = str(tmp_path)
    pq.write_table(t, os.path.join(sf_dir, "documents.parquet"))

    caching.clear()
    try:
        sp = (
            registry.STAGED_QUERIES["text_bloom_decontaminate"](spark, sf_dir)
            .toPandas()
        )
    finally:
        caching.clear()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    od = con.execute(registry.STAGED_ORACLES["text_bloom_decontaminate"]).fetchdf()
    assert len(sp) == len(od)
    # empty filter flags nothing, on both engines
    for df in (sp, od):
        flag_cols = [c for c in df.columns if df[c].dtype == bool]
        assert flag_cols, df.columns
        for c in flag_cols:
            assert not df[c].any(), f"{c} flagged rows with empty filter"


def test_theta_set_ops_contracts(spark):
    """Semantic contracts of the r15 theta set algebra (parity
    proves Spark == DuckDB; this proves the estimators are sound):
    self-pairs are calibration rows (est_diff exactly 0, est_inter
    == est_union), exact identities hold (inclusion-exclusion,
    diff = n_a - inter via the union row), estimates are within the
    loose K=64 KMV band (~4/sqrt(K) relative on the union — the
    point is 'a real sketch, neither degenerate-exact nor junk'),
    and the union error is non-degenerate somewhere."""
    caching.clear()
    try:
        pdf = (
            registry.STAGED_QUERIES["text_theta_set_ops"](spark, SF_SMOKE)
            .toPandas()
        )
    finally:
        caching.clear()
    self_rows = pdf[pdf.source_a == pdf.source_b]
    assert len(self_rows) > 0
    assert (self_rows.est_diff_ab == 0).all()
    assert (self_rows.n_diff_ab == 0).all()
    assert (self_rows.est_inter == self_rows.est_union).all()
    assert (self_rows.n_union == self_rows.n_inter).all()
    # exact identities: |A u B| = |A \ B| + |B| and inter <= union
    # (n_b = n_union - n_diff_ab by construction, so diff + inter
    # never exceeds the union)
    assert (pdf.n_union >= pdf.n_inter).all()
    assert (pdf.n_diff_ab + pdf.n_inter <= pdf.n_union).all()
    # sketch band: union estimate within 50% of exact (4/sqrt(64) =
    # 0.5), and honestly lossy somewhere
    assert (pdf.rel_err_union <= 0.5).all(), pdf.rel_err_union.max()
    assert (pdf.rel_err_union > 0).any(), "suspiciously exact sketch"
    # estimator coherence: est_inter + est_diff <= est_union + slack
    # (all three share one theta, so they are nearly additive)
    slack = 2.0 * (pdf.est_union / 63.0)  # one hash-count unit
    assert (
        pdf.est_inter + pdf.est_diff_ab <= pdf.est_union + slack + 1e-6
    ).all()


def test_theta_exact_mode_below_k(tmp_path, spark):
    """The cnt < K CASE (combined signatures hold fewer than K
    hashes => the sketch degenerates to exact) is unreachable on the
    shipped fixtures — every source has thousands of shingles — so
    exercise it on a synthetic two-source corpus small enough that
    every pair's signature union stays under K=64, and require
    est == exact on all three set operations AND Spark == DuckDB
    (the oracle has the same CASE)."""
    import os

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            # shingle counts stay single-digit: len(words) - 2 shingles
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "gamma delta epsilon zeta eta theta",
            ],
            "lang": ["en", "en"],
            "source": ["srcA", "srcB"],
            "n_chars": [36, 34],
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(pa.Table.from_pandas(docs), os.path.join(sf_dir, "documents.parquet"))

    caching.clear()
    try:
        sp = (
            registry.STAGED_QUERIES["text_theta_set_ops"](spark, sf_dir)
            .toPandas()
            .sort_values(["source_a", "source_b"])
            .reset_index(drop=True)
        )
    finally:
        caching.clear()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    od = (
        con.execute(registry.STAGED_ORACLES["text_theta_set_ops"])
        .fetchdf()
        .sort_values(["source_a", "source_b"])
        .reset_index(drop=True)
    )
    assert len(sp) == 3  # (A,A), (A,B), (B,B)
    a = sp[sorted(sp.columns)].astype(str)
    b = od[sorted(od.columns)].astype(str)
    assert a.equals(b), f"\n{sp}\n{od}"
    # exact mode: every estimate equals its exact arm, error zero
    assert (sp.est_union == sp.n_union).all(), sp
    assert (sp.est_inter == sp.n_inter).all(), sp
    assert (sp.est_diff_ab == sp.n_diff_ab).all(), sp
    assert (sp.rel_err_union == 0).all(), sp
