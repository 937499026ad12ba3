"""Benford first-significant-digit audit (staged-forever, r16).

The classic forensic/data-quality screen (Benford 1938; Nigrini's
fraud-audit practice; standard in warehouse DQ suites next to
null/distinct profiling): the distribution of first significant
digits of a monetary column against Benford's law
P(d) = log10(1 + 1/d), with per-digit deviations and the mean
absolute deviation (MAD) — the statistic Nigrini's conformity bands
are defined over. TPC-H order totals are sums of uniform prices, so
they do NOT conform — the point of the operator is the certified
MEASUREMENT, not a conformity verdict (the contract test pins a
synthetic corpus at both extremes).

Determinism: the first digit is extracted WITHOUT log10/floor —
the amount is promoted to exact integer cents
(CAST(round(x · 100) AS BIGINT); the fixture stores 2-dp money in
DOUBLE, so x·100 is within 1e-9 of the integer and both engines'
round modes agree) and the digit is the first character of the
integer's decimal string — integer-to-string is identical on both
engines, dodging the floor-behind-a-transcendental ulp trap
(tdigest.py's asin precedent). Expected proportions use
ln(1 + 1/d) / ln(10) — ln only (the lm_score.py identical-ln
precedent; log10 itself is NOT assumed cross-libm identical) over
identical operand bits. Counts are exact BIGINTs; proportions and
deviations are fixed-shape IEEE expressions rounded 6 dp at the
seam; mad_total's 9-addend mean is absorbed by the seam round.

Scale posture (100 TB): one corpus-scale stage — the projection +
9-cell groupBy (map-side partial agg; the shuffle moves ≤ 9 rows
per task). The digit grid (1..9) is generated, not observed, so
digits with zero observations materialize; all expected/deviation
algebra runs on the 9-row table, totals ride as sanctioned 1-row
scalars. Output is 9 rows at any corpus scale.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
data-quality family (profiling.py, drift.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

_ORACLE = """
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM cents GROUP BY 1
),
grid AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
cells AS (
  SELECT g.digit, COALESCE(o.n_obs, 0) AS n_obs, tot.n_total,
         CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
           / CAST(tot.n_total AS DOUBLE) AS p_obs_raw,
         ln(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) / ln(10.0) AS p_exp_raw
  FROM grid g LEFT JOIN obs o ON o.digit = g.digit, tot
),
summary AS (
  SELECT round(avg(abs(p_obs_raw - p_exp_raw)), 6) AS mad_total
  FROM cells
)
SELECT c.digit, c.n_obs, c.n_total,
       round(c.p_obs_raw, 6) AS p_obs,
       round(c.p_exp_raw, 6) AS p_exp,
       round(c.p_obs_raw - c.p_exp_raw, 6) AS deviation,
       s.mad_total
FROM cells c, summary s
"""


def first_digit_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(digit, n_obs) over positive order totals — the one
    corpus-scale aggregation (9-cell groupBy, map-side partial)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice"
    )
    return (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("bigint")
                .cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )


@staged_query("benford_order_totals", oracle=_ORACLE)
def benford_order_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(digit, n_obs, n_total, p_obs, p_exp, deviation, mad_total)
    — one row per first digit 1..9, complete grid. STAGED-FOREVER
    under the saturation policy (registry docstring)."""
    obs = first_digit_counts(spark, sf_dir)
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    cells = (
        grid.join(obs, "digit", "left")
        .withColumn(
            "n_obs", F.coalesce("n_obs", F.lit(0).cast("bigint"))
        )
        .crossJoin(tot)  # 1-row broadcast scalar (sanctioned)
        .withColumn(
            "p_obs_raw",
            F.col("n_obs").cast("double")
            / F.col("n_total").cast("double"),
        )
        .withColumn(
            "p_exp_raw",
            F.log(1.0 + 1.0 / F.col("digit").cast("double"))
            / F.log(F.lit(10.0)),
        )
    )
    summary = cells.agg(
        F.round(
            F.avg(F.abs(F.col("p_obs_raw") - F.col("p_exp_raw"))), 6
        ).alias("mad_total")
    )
    return cells.crossJoin(summary).select(  # 1-row scalar
        "digit",
        "n_obs",
        "n_total",
        F.round("p_obs_raw", 6).alias("p_obs"),
        F.round("p_exp_raw", 6).alias("p_exp"),
        F.round(F.col("p_obs_raw") - F.col("p_exp_raw"), 6).alias(
            "deviation"
        ),
        "mad_total",
    )
