"""Two-proportion A/B test (staged-forever, r16).

The experimentation-analytics primitive every growth dashboard
computes (the classic two-sample z-test for proportions, pooled
variance — Kohavi et al., "Trustworthy Online Controlled
Experiments" ch. 17): split users into deterministic arms, compare
purchase-conversion rates, emit the z statistic and standard error.
The arm assignment here is the hash-bucket split an experimentation
platform would persist (user_id parity — deterministic, balanced,
and reproducible on both engines; a salted md5 bucket generalizes
it to arbitrary splits).

Semantics: a user CONVERTS iff they have ≥ 1 purchase event.
n_a/n_b = users per arm, x_a/x_b = converters per arm,
p = x/n per arm, diff = p_b − p_a, pooled = (x_a+x_b)/(n_a+n_b),
se = sqrt(pooled·(1−pooled)·(1/n_a+1/n_b)), z = diff/se. No
significance BOOLEAN is emitted by design: |z| > zα is a
float-boundary comparison with no integer certification, so the
caller applies their own α to the 6-dp z (the PPJoin discipline
applied by omission).

Determinism: all counts are exact BIGINTs; every emitted float is
one fixed-shape IEEE expression over exactly-cast integers —
sqrt is correctly-rounded per IEEE 754 on both engines (unlike
ln/log10, sqrt carries a correctness guarantee, so no libm caveat
is needed) — rounded 6 dp at the seam; se = 0 (a degenerate
all-convert/none-convert split) NULL-guards z.

Scale posture (100 TB events): one corpus-scale stage — the
per-user conversion rollup (user_id groupBy over a projection with
the purchase flag as a max(CASE), map-side partial). The arm
aggregate runs over the user-scale rollup into 2 rows; the final
algebra is a 1-row select. Output is one row at any corpus scale.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
stats family (stats_chisq.py, drift.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

_ORACLE = """
WITH users AS (
  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS x
  FROM users GROUP BY arm
),
wide AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n_a,
    max(CASE WHEN arm = 0 THEN x END) AS x_a,
    max(CASE WHEN arm = 1 THEN n END) AS n_b,
    max(CASE WHEN arm = 1 THEN x END) AS x_b
  FROM arms
),
calc AS (
  SELECT n_a, x_a, n_b, x_b,
         CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a_raw,
         CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b_raw,
         CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
           AS pooled_raw
  FROM wide
),
calc2 AS (
  SELECT *,
         sqrt(pooled_raw * (1.0 - pooled_raw)
              * (1.0 / CAST(n_a AS DOUBLE)
                 + 1.0 / CAST(n_b AS DOUBLE))) AS se_raw
  FROM calc
)
SELECT n_a, x_a, n_b, x_b,
       round(p_a_raw, 6) AS p_a,
       round(p_b_raw, 6) AS p_b,
       round(p_b_raw - p_a_raw, 6) AS diff,
       round(se_raw, 6) AS se,
       CASE WHEN se_raw > 0
            THEN round((p_b_raw - p_a_raw) / se_raw, 6) END AS z
FROM calc2
"""


_WELCH_ORACLE = """
WITH purchases AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS arm, value
  FROM events WHERE event_type = 'purchase'
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         sum(value) AS s1, sum(value * value) AS s2
  FROM purchases GROUP BY arm
),
wide AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n_a,
    max(CASE WHEN arm = 0 THEN s1 END) AS s1_a,
    max(CASE WHEN arm = 0 THEN s2 END) AS s2_a,
    max(CASE WHEN arm = 1 THEN n END) AS n_b,
    max(CASE WHEN arm = 1 THEN s1 END) AS s1_b,
    max(CASE WHEN arm = 1 THEN s2 END) AS s2_b
  FROM arms
),
calc AS (
  SELECT n_a, n_b,
         s1_a / n_a AS m_a, s1_b / n_b AS m_b,
         CASE WHEN n_a >= 2 THEN
           (s2_a - s1_a * s1_a / n_a) / (n_a - 1) / n_a END AS va_n,
         CASE WHEN n_b >= 2 THEN
           (s2_b - s1_b * s1_b / n_b) / (n_b - 1) / n_b END AS vb_n
  FROM wide
)
SELECT n_a, n_b,
       round(m_a, 6) AS mean_a,
       round(m_b, 6) AS mean_b,
       round(m_b - m_a, 6) AS diff,
       CASE WHEN va_n + vb_n > 0 THEN
         round((m_b - m_a) / sqrt(va_n + vb_n), 6) END AS t,
       CASE WHEN va_n + vb_n > 0 THEN
         round((va_n + vb_n) * (va_n + vb_n)
               / (va_n * va_n / (n_a - 1)
                  + vb_n * vb_n / (n_b - 1)), 6) END AS df
FROM calc
"""


@staged_query("abtest_purchase_value_welch", oracle=_WELCH_ORACLE)
def abtest_purchase_value_welch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_a, n_b, mean_a, mean_b, diff, t, df) — Welch's unequal-
    variance t-test on purchase VALUE between the user_id-parity
    arms (the magnitude companion to the conversion z-test: did
    treatment change how much converters spend, not just whether
    they convert). t = diff / sqrt(s²_a/n_a + s²_b/n_b); df is the
    Welch–Satterthwaite approximation. Variances come from per-arm
    (n, Σx, Σx²) — corpus DOUBLE sums under the 6-dp seam-round
    discipline — through fixed-shape IEEE algebra (sqrt IEEE-exact);
    zero pooled variance NULL-guards t and df. One corpus-scale
    stage: the pushdown-filtered purchase scan into a 2-row arm
    aggregate (map-side partial). STAGED-FOREVER under the
    saturation policy (registry docstring)."""
    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"), "value"
        )
    )
    arms = purchases.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    pick = lambda a, c: F.max(  # noqa: E731
        F.when(F.col("arm") == a, F.col(c))
    )
    wide = arms.agg(
        pick(0, "n").alias("n_a"),
        pick(0, "s1").alias("s1_a"),
        pick(0, "s2").alias("s2_a"),
        pick(1, "n").alias("n_b"),
        pick(1, "s1").alias("s1_b"),
        pick(1, "s2").alias("s2_b"),
    )
    calc = wide.select(
        "n_a",
        "n_b",
        (F.col("s1_a") / F.col("n_a")).alias("m_a"),
        (F.col("s1_b") / F.col("n_b")).alias("m_b"),
        # n >= 2 guard: a single-purchase arm would divide by
        # (n - 1) = 0 — ANSI-on Spark throws where DuckDB NULLs
        F.when(
            F.col("n_a") >= 2,
            (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / F.col("n_a"))
            / (F.col("n_a") - 1)
            / F.col("n_a"),
        ).alias("va_n"),
        F.when(
            F.col("n_b") >= 2,
            (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / F.col("n_b"))
            / (F.col("n_b") - 1)
            / F.col("n_b"),
        ).alias("vb_n"),
    )
    pooled = F.col("va_n") + F.col("vb_n")
    return calc.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(F.col("m_b") - F.col("m_a"), 6).alias("diff"),
        F.when(
            pooled > 0,
            F.round((F.col("m_b") - F.col("m_a")) / F.sqrt(pooled), 6),
        ).alias("t"),
        F.when(
            pooled > 0,
            F.round(
                pooled
                * pooled
                / (
                    F.col("va_n") * F.col("va_n") / (F.col("n_a") - 1)
                    + F.col("vb_n") * F.col("vb_n") / (F.col("n_b") - 1)
                ),
                6,
            ),
        ).alias("df"),
    )


@staged_query("abtest_purchase_conversion", oracle=_ORACLE)
def abtest_purchase_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_a, x_a, n_b, x_b, p_a, p_b, diff, se, z) — one row: the
    pooled two-proportion z-test between the user_id-parity arms.
    STAGED-FOREVER under the saturation policy (registry
    docstring)."""
    users = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_purchase"),
        )
        .groupBy("user_id", "arm")
        .agg(F.max("is_purchase").alias("converted"))
    )
    arms = users.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x_b"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    calc = wide.select(
        "*",
        (dbl("x_a") / dbl("n_a")).alias("p_a_raw"),
        (dbl("x_b") / dbl("n_b")).alias("p_b_raw"),
        (
            (F.col("x_a") + F.col("x_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
        ).alias("pooled_raw"),
    ).select(
        "*",
        F.sqrt(
            F.col("pooled_raw")
            * (F.lit(1.0) - F.col("pooled_raw"))
            * (F.lit(1.0) / dbl("n_a") + F.lit(1.0) / dbl("n_b"))
        ).alias("se_raw"),
    )
    return calc.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round("p_a_raw", 6).alias("p_a"),
        F.round("p_b_raw", 6).alias("p_b"),
        F.round(F.col("p_b_raw") - F.col("p_a_raw"), 6).alias("diff"),
        F.round("se_raw", 6).alias("se"),
        F.when(
            F.col("se_raw") > 0,
            F.round(
                (F.col("p_b_raw") - F.col("p_a_raw"))
                / F.col("se_raw"),
                6,
            ),
        ).alias("z"),
    )
