"""Lorenz curve + Gini coefficient (staged-forever, r16).

The concentration statistic that completes the contribution family:
`contribution_abc_customers` classifies WHO covers the measure;
this measures HOW concentrated it is — the decile Lorenz curve
(cumulative spend share at each customer decile) and the Gini
coefficient in its ranked form
  G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n
(x ascending, i the 1-based rank — the standard discrete estimator,
e.g. Sen 1973). Revenue-concentration Ginis are the standard
"whale risk" metric next to the ABC table.

Input reuse: the per-customer spend comes from rfm.rfm_rollup's
persist slot — running the RFM grid and this query in one session
builds the custkey rollup once.

Determinism: spend is exact integer CENTS; the rank is over the
UNIQUE (m_cents, o_custkey) order, so i·x_i is well-defined under
ties; Σ(i·x_i) would overflow BIGINT at ~10^18·rank scale, so both
engines accumulate it in DOUBLE through the same fixed shape (the
seam-round sum discipline — relative ULP ~1e-13 against a 6-dp
round of a [0,1] statistic). Decile boundaries are integer-rank
arithmetic (decile = ceil(10·i/n) via (10·i + n − 1) DIV n — pure
integers, no float floor); shares divide exact cent sums once.

Scale posture (100 TB): the corpus-scale stage is the custkey
rollup (shared slot). The ranking window is a single-partition sort
of the AGGREGATED customer table — the contribution_abc posture:
acceptable only because the entity table is aggregate-sized; a
window over raw facts would be the anti-pattern. Everything after
the rank is a 10-row aggregate + 10-row window, with the global
(n, total, Σi·x) as the sanctioned 1-row crossJoin scalar.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
customer-analytics family (contribution.py, rfm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dist_map_reduce_spark.operators.rfm import rfm_rollup
from dist_map_reduce_spark.registry import staged_query

_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT m_cents,
         row_number() OVER (ORDER BY m_cents, o_custkey) AS i
  FROM spend
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(m_cents) AS BIGINT) AS total_cents,
         sum(CAST(i AS DOUBLE) * CAST(m_cents AS DOUBLE)) AS swx
  FROM ranked
),
deciles AS (
  SELECT CAST((10 * i + n - 1) // n AS INTEGER) AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(m_cents) AS BIGINT) AS decile_cents
  FROM ranked, tot GROUP BY 1, n
),
curve AS (
  SELECT decile, n_customers, decile_cents,
         CAST(sum(decile_cents) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_cents
  FROM deciles
)
SELECT c.decile, c.n_customers,
       CASE WHEN t.total_cents > 0 THEN
         round(CAST(c.decile_cents AS DOUBLE)
               / CAST(t.total_cents AS DOUBLE), 6) END AS decile_share,
       CASE WHEN t.total_cents > 0 THEN
         round(CAST(c.cum_cents AS DOUBLE)
               / CAST(t.total_cents AS DOUBLE), 6) END AS cum_share,
       t.n AS n_total,
       CASE WHEN t.total_cents > 0 THEN
         round(2.0 * t.swx
               / (CAST(t.n AS DOUBLE) * CAST(t.total_cents AS DOUBLE))
               - (CAST(t.n AS DOUBLE) + 1.0) / CAST(t.n AS DOUBLE), 6)
       END AS gini
FROM curve c, tot t
"""


@staged_query("lorenz_gini_customer_spend", oracle=_ORACLE)
def lorenz_gini_customer_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(decile, n_customers, decile_share, cum_share, n_total, gini)
    — the decile Lorenz curve with the Gini scalar on each row.
    STAGED-FOREVER under the saturation policy (registry
    docstring)."""
    spend = rfm_rollup(spark, sf_dir).select("o_custkey", "m_cents")
    ranked = spend.select(
        "m_cents",
        F.row_number()
        .over(Window.orderBy("m_cents", "o_custkey"))
        .alias("i"),
    )
    tot = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("m_cents").cast("bigint").alias("total_cents"),
        F.sum(
            F.col("i").cast("double") * F.col("m_cents").cast("double")
        ).alias("swx"),
    )
    deciles = (
        ranked.crossJoin(tot)  # 1-row broadcast scalar (sanctioned)
        .select(
            F.expr("CAST((10 * i + n - 1) DIV n AS INT)").alias(
                "decile"
            ),
            "m_cents",
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("m_cents").cast("bigint").alias("decile_cents"),
        )
    )
    curve = deciles.withColumn(
        "cum_cents",
        F.sum("decile_cents")
        .over(
            Window.orderBy("decile").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    # total > 0 guards: an all-zero-cent corpus would divide by 0.0
    # — ANSI-on Spark throws where DuckDB NULLs
    pos = F.col("total_cents") > 0
    return curve.crossJoin(tot).select(  # 1-row scalar
        "decile",
        "n_customers",
        F.when(
            pos, F.round(dbl("decile_cents") / dbl("total_cents"), 6)
        ).alias("decile_share"),
        F.when(
            pos, F.round(dbl("cum_cents") / dbl("total_cents"), 6)
        ).alias("cum_share"),
        F.col("n").alias("n_total"),
        F.when(
            pos,
            F.round(
                F.lit(2.0)
                * F.col("swx")
                / (dbl("n") * dbl("total_cents"))
                - (dbl("n") + F.lit(1.0)) / dbl("n"),
                6,
            ),
        ).alias("gini"),
    )
