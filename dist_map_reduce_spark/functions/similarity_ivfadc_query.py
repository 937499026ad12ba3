"""Registered-query wrapper + unrolled-SQL oracle for IVFADC.

``similarity_ivfpq.ivfadc_residual_topk`` (per-cell residual PQ over
the k-means coarse quantizer — the full Faiss IVFADC layout) has been
a library entry point graded only engine-vs-engine by the recall
harness; since the r10 per-cell-codebook fix made it the best
compressed-domain searcher (recall@5 0.28/0.40/0.36 vs PQ-ADC's
0.20/0.28/0.32 — SCALE.md §ANN), it earns the same value-hash DuckDB
oracle as every other ANN variant. No engine-side concession was
needed: the L2 norm is the one quantity each engine computes
independently (Spark's fold vs DuckDB's list_sum can differ by ULPs),
but every cross-engine-compared value downstream is a round-6 of a
GENERIC double, which absorbs those ULPs — the usual round-6/
tie-break discipline carries the whole pipeline. (Rounding the
normalized embedding at the source instead was tried and is WORSE:
it decimal-aligns the per-cell codebook averages onto exact .5e-6
round boundaries where the same ULP noise flips the round.)

The oracle below unrolls the ENTIRE computation in DuckDB SQL:
normalize → 3-round Lloyd k-means (shared ``kmeans_ctes``) → home
cells + query probe lists → per-home-cell residuals → per-cell
16-code residual codebooks (2-round composite-key Lloyd, seeded by
the 16 lowest vec_ids per cell) → per-(query, probe-cell) residual
LUTs → ADC sum → top-5 per query with (adist asc, vec_id asc)
tie-breaks. ~K_CELLS× more codebook CTE rows than the shared-book
IVF-PQ oracle, but structurally the same mechanical mirror.

Reference parity: the reference engine has no ANN surface (its only
query is word count — /root/reference/src/worker/worker.go:270-288);
this is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dist_map_reduce_spark.functions.similarity_common import (
    N_QUERIES,
    NPROBE,
    kmeans_ctes,
)
from dist_map_reduce_spark.functions.similarity_ivfpq import (
    IVFADC_K_CODES,
    ivfadc_residual_topk,
)
from dist_map_reduce_spark.functions.similarity_pq import M_SUB, SUBDIM, _d2_sql
from dist_map_reduce_spark.registry import query

# per-cell Lloyd rounds — MUST equal similarity_ivfpq._pq_fit_percell's
# default (pinned by the parity test)
_PERCELL_ROUNDS = 2


def ivfadc_oracle_sql() -> str:
    """The full IVFADC pipeline as one DuckDB query."""
    # L2-normalized embeddings — the engine's `emb`. NOT rounded:
    # see ivfadc_residual_topk's normalization comment (rounding here
    # decimal-aligns every downstream average onto .5e-6 round
    # boundaries where engine/oracle ULP noise flips the round;
    # unrounded, every compared quantity is a round-6 of a generic
    # double and the ULPs are absorbed).
    ctes = [
        """e AS (
          SELECT vec_id,
                 list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_sum(list_transform(
                          CAST(embedding AS DOUBLE[]), y -> y * y)))
                 ) AS emb
          FROM embeddings
        )"""
    ]
    km, final_cent = kmeans_ctes(with_e=False)
    ctes += km
    # home cells + query probe lists vs the final centroid table
    ctes.append(f"""ranked AS (
      SELECT e.vec_id, c.cell AS cand_cell,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.emb, c.cent), 6) DESC,
                        c.cell ASC
             ) AS rn
      FROM e CROSS JOIN {final_cent} c
    )""")
    ctes.append(
        "homes AS (SELECT vec_id, cand_cell AS cell FROM ranked WHERE rn = 1)"
    )
    ctes.append(f"""qprobes AS (
      SELECT vec_id AS query_id, cand_cell AS qcell
      FROM ranked WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    )""")
    # corpus residuals vs home-cell centroid, exploded to subvectors
    ctes.append(f"""rres AS (
      SELECT e.vec_id, h.cell,
             list_transform(list_zip(e.emb, c.cent), p -> p[1] - p[2]) AS remb
      FROM e
      JOIN homes h ON h.vec_id = e.vec_id
      JOIN {final_cent} c ON c.cell = h.cell
    )""")
    ctes.append(f"""rs AS (
      SELECT vec_id, cell, m,
             remb[m * {SUBDIM} + 1 : m * {SUBDIM} + {SUBDIM}] AS sub
      FROM rres, LATERAL (
        SELECT unnest(generate_series(0, {M_SUB - 1})) AS m
      ) t
    )""")
    # per-cell residual codebooks: seeds = the IVFADC_K_CODES lowest
    # vec_ids per cell, then _PERCELL_ROUNDS composite-key Lloyd
    # rounds grouped by (cell, m) — the SQL mirror of _pq_fit_percell
    ctes.append(f"""rseeds AS (
      SELECT cell, vec_id, rk - 1 AS code FROM (
        SELECT cell, vec_id,
               row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
        FROM (SELECT DISTINCT cell, vec_id FROM rs) d
      ) s WHERE rk <= {IVFADC_K_CODES}
    )""")
    ctes.append("""rcb0 AS (
      SELECT r.cell, r.m, s.code,
             list_transform(r.sub, x -> round(x, 6)) AS cent
      FROM rs r JOIN rseeds s ON s.cell = r.cell AND s.vec_id = r.vec_id
    )""")
    for r in range(1, _PERCELL_ROUNDS + 1):
        ctes.append(f"""ra{r} AS (
          SELECT vec_id, cell, m, sub, code FROM (
            SELECT s.vec_id, s.cell, s.m, s.sub, c.code,
                   row_number() OVER (
                     PARTITION BY s.vec_id, s.cell, s.m
                     ORDER BY round({_d2_sql('s.sub', 'c.cent')}, 6) ASC,
                              c.code ASC
                   ) AS rn
            FROM rs s JOIN rcb{r - 1} c ON c.cell = s.cell AND c.m = s.m
          ) WHERE rn = 1
        )""")
        if r < _PERCELL_ROUNDS:
            ctes.append(f"""rcb{r} AS (
          SELECT cell, m, code, list(mm ORDER BY pos) AS cent FROM (
            SELECT cell, m, code, i - 1 AS pos, round(avg(sub[i]), 6) AS mm
            FROM ra{r}, LATERAL (
              SELECT unnest(generate_series(1, {SUBDIM})) AS i
            ) t
            GROUP BY cell, m, code, i
          )
          GROUP BY cell, m, code
        )""")
    final_codes = f"ra{_PERCELL_ROUNDS}"
    final_cb = f"rcb{_PERCELL_ROUNDS - 1}"
    # query residual PER PROBE CELL → per-cell LUT against THAT
    # cell's codebook
    ctes.append(f"""qres AS (
      SELECT p.query_id, p.qcell,
             list_transform(list_zip(e.emb, c.cent), pz -> pz[1] - pz[2])
               AS remb
      FROM qprobes p
      JOIN e ON e.vec_id = p.query_id
      JOIN {final_cent} c ON c.cell = p.qcell
    )""")
    ctes.append(f"""qsub AS (
      SELECT query_id, qcell, m,
             remb[m * {SUBDIM} + 1 : m * {SUBDIM} + {SUBDIM}] AS sub
      FROM qres, LATERAL (
        SELECT unnest(generate_series(0, {M_SUB - 1})) AS m
      ) t
    )""")
    ctes.append(f"""qlut AS (
      SELECT q.query_id, q.qcell, q.m, c.code,
             round({_d2_sql('q.sub', 'c.cent')}, 6) AS ld
      FROM qsub q JOIN {final_cb} c ON c.cell = q.qcell AND c.m = q.m
    )""")
    # ADC: candidates found through a probe cell score against that
    # cell's LUT; each (query, candidate) pair scores exactly once
    # (probe lists hold distinct cells, candidates one home cell)
    ctes.append(f"""adc AS (
      SELECT p.query_id, a.vec_id, round(sum(l.ld), 6) AS adist
      FROM {final_codes} a
      JOIN qprobes p ON p.qcell = a.cell AND a.vec_id <> p.query_id
      JOIN qlut l ON l.query_id = p.query_id AND l.qcell = p.qcell
                 AND l.m = a.m AND l.code = a.code
      GROUP BY 1, 2
    )""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT query_id, vec_id, adist
    FROM adc
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY adist ASC, vec_id ASC
    ) <= 5
    """
    )


@query("similarity_ann_ivfadc_topk", oracle=ivfadc_oracle_sql())
def similarity_ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 (query_id, vec_id, adist): per-cell residual-PQ
    compressed-domain search — normalize, probe the NPROBE nearest
    k-means cells, score candidates by summed lookups against their
    home cell's residual codebook."""
    return ivfadc_residual_topk(spark, sf_dir)
