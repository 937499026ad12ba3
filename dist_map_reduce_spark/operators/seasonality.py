"""Day-of-week × hour seasonality profile (staged-forever, r16).

The capacity-planning / anomaly-baseline table every metrics
warehouse maintains (the "weekly seasonality heatmap"): per
(isodow, hour) cell, exact event counts with mean and sample
standard deviation of the metric, plus the table-level
variance-explained-by-seasonality statistic
R² = 1 − SSE_within / SST — the one-way-ANOVA reading of "how much
of the metric's variance the weekly cycle accounts for", which is
what decides whether a seasonal baseline (this table) or a flat
baseline (plain mean/std) should drive alerting.

Semantics: cells are ISO day-of-week (1 = Monday) × hour, derived
from the event timestamp under the pinned-UTC reading every events
operator shares (catalog.load_table normalizes events.ts; DuckDB
reads the same naive values). Sums of squares use the textbook
decomposition SST = Σx² − (Σx)²/N and SSE_within =
Σ_cells (Σx² − (Σx)²/n) — algebra over per-cell (n, Σx, Σx²)
only, so the single corpus-scale stage emits 168 rows.

Determinism: n is exact; Σx and Σx² are corpus-scale DOUBLE sums
(association-order ULPs absorbed by the 6-dp seam round — the
q1/attribution discipline); mean, std (IEEE-exact sqrt over the
fixed shape, NULL-guarded at n < 2) and R² are fixed-shape IEEE
expressions over those sums, each rounded once at the seam. The
168-addend SSE sum and the R² division inherit the same seam-round
absorption.

Scale posture (100 TB events): ONE corpus-scale stage — the
(isodow, hour) groupBy with count/sum/sum-of-squares, all
map-side-partial (the shuffle moves ≤ 168 rows per task).
Everything after (totals, R²) is 168-row algebra with the global
row as the sanctioned 1-row crossJoin scalar. Output is ≤ 168 rows
at any corpus scale.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
time-series family (timeseries_ewma.py, drift.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

_ORACLE = """
WITH cells AS (
  SELECT isodow(ts) AS dow, hour(ts) AS hr,
         CAST(count(*) AS BIGINT) AS n,
         sum(value) AS s1,
         sum(value * value) AS s2
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         sum(s1) AS t1, sum(s2) AS t2,
         sum(greatest(s2 - s1 * s1 / n, 0)) AS sse_within
  FROM cells
),
r2 AS (
  SELECT n_total,
         CASE WHEN t2 - t1 * t1 / n_total > 0 THEN
           round(1.0 - sse_within / (t2 - t1 * t1 / n_total), 6)
         END AS r2_seasonal
  FROM tot
)
SELECT c.dow, c.hr, c.n,
       round(c.s1 / c.n, 6) AS mean_value,
       CASE WHEN c.n >= 2 THEN
         round(sqrt(greatest(c.s2 - c.s1 * c.s1 / c.n, 0) / (c.n - 1)), 6)
       END AS std_value,
       r2.n_total, r2.r2_seasonal
FROM cells c, r2
"""


@staged_query("events_seasonality_dow_hour", oracle=_ORACLE)
def events_seasonality_dow_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(dow, hr, n, mean_value, std_value, n_total, r2_seasonal) —
    one row per populated ISO-dow × hour cell. STAGED-FOREVER under
    the saturation policy (registry docstring)."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            (F.weekday("ts") + 1).alias("dow"),  # ISO 1 = Monday
            F.hour("ts").alias("hr"),
            "value",
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("value").alias("s1"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
        # greatest(..., 0): the FP numerator can be a tiny negative
        # on a constant-valued cell — DuckDB sqrt(negative) errors
        F.sum(
            F.greatest(
                F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"),
                F.lit(0.0),
            )
        ).alias("sse_within"),
    )
    sst = F.col("t2") - F.col("t1") * F.col("t1") / F.col("n_total")
    r2 = tot.select(
        "n_total",
        F.when(
            sst > 0,
            F.round(F.lit(1.0) - F.col("sse_within") / sst, 6),
        ).alias("r2_seasonal"),
    )
    return cells.crossJoin(r2).select(  # 1-row broadcast scalar
        "dow",
        "hr",
        "n",
        F.round(F.col("s1") / F.col("n"), 6).alias("mean_value"),
        F.when(
            F.col("n") >= 2,
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("s2")
                        - F.col("s1") * F.col("s1") / F.col("n"),
                        F.lit(0.0),
                    )
                    / (F.col("n") - 1)
                ),
                6,
            ),
        ).alias("std_value"),
        "n_total",
        "r2_seasonal",
    )
