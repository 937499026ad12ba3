"""Incremental aggregate maintenance / IVM (staged-forever, r16).

The lakehouse family covers applying a CDC batch to base ROWS
(cdc_merge_upsert_orders, delta_merge.py) and diffing snapshots
(snapshot_diff.py). The missing member is the other half of every
production pipeline: maintaining a MATERIALIZED AGGREGATE under that
same change feed without recomputing it — incremental view
maintenance (Blakeley, Larson & Tompa, SIGMOD '86; the delta-rule
form: for distributive aggregates, view' = view ⊕ agg(Δ) where each
change contributes a SIGNED delta). At 100 TB this is THE pattern
that keeps a dashboard aggregate live: the maintenance arm touches
O(|Δ| + |groups|) rows while the recompute arm would rescan the
corpus — here the recompute runs too, as the certification.

Change feed: the exact cdc_merge_upsert_orders batch (same md5
bucketing, same mutations — single source of truth for the CDC
semantics): bucket 0-1 update price by +100.0 (key- and
group-preserving), bucket 2 delete, bucket 3 insert under fresh
negative keys. Signed deltas per o_orderstatus group:
  update: count += 0, revenue += 100.00 per row
  delete: count -= 1, revenue -= old_price
  insert: count += 1, revenue += new_price
(A group-changing update decomposes into delete + insert; this feed's
updates are group-preserving, so the update arm stays additive.)

Exactness: revenue accumulates as DECIMAL(18,2) on both arms (the
money.py discipline — exact and associative, so maintained
base ⊕ delta and recomputed agg(merged) are equal AS VALUES, not
merely within float noise). The certified output carries both arms
plus ``maintained_matches``, which the oracle must also derive as
true — the IVM identity graded per group, grade-the-contract style.

Scale posture (SCALE.md): the maintenance arm is one delta-sized
aggregate (map-side combined over the CDC batch) merged into a
|groups|-row state via a full outer join — nothing corpus-scale
moves; the recompute arm is one corpus-scale groupBy and exists as
the in-plan oracle of the identity. Production keeps only the
maintenance arm; the probe row measures both (the certification is
the expensive part, by design).

Reference parity: the reference has no mutation or view surface
(write-once text sinks, /root/reference/src/worker/worker.go:219-268)
— extension surface beside delta_merge.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

_N_CDC_BUCKETS = 10  # delta_merge.py's bucketing, verbatim
_DEC = "DECIMAL(18,2)"

_BUCKETED_SQL = f"""
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         ('0x' || substring(md5('cdc:' || o_orderkey::VARCHAR), 1, 8))
           ::BIGINT % {_N_CDC_BUCKETS} AS bucket
  FROM orders
"""

_ORACLE = f"""
WITH b AS ({_BUCKETED_SQL}),
base_agg AS (
  SELECT o_orderstatus AS grp, count(*) AS cnt,
         sum(CAST(o_totalprice AS {_DEC})) AS rev
  FROM b GROUP BY o_orderstatus
),
deltas AS (
  SELECT o_orderstatus AS grp, CAST(0 AS BIGINT) AS d_cnt,
         CAST(100.00 AS {_DEC}) AS d_rev
  FROM b WHERE bucket IN (0, 1)
  UNION ALL
  SELECT o_orderstatus, -1, -CAST(o_totalprice AS {_DEC})
  FROM b WHERE bucket = 2
  UNION ALL
  SELECT o_orderstatus, 1, CAST(o_totalprice AS {_DEC})
  FROM b WHERE bucket = 3
),
delta_agg AS (
  SELECT grp, sum(d_cnt) AS d_cnt, sum(d_rev) AS d_rev
  FROM deltas GROUP BY grp
),
maintained AS (
  SELECT * FROM (
    SELECT COALESCE(ba.grp, da.grp) AS grp,
           COALESCE(ba.cnt, 0) + COALESCE(da.d_cnt, 0) AS n_orders,
           COALESCE(ba.rev, CAST(0 AS {_DEC}))
             + COALESCE(da.d_rev, CAST(0 AS {_DEC})) AS rev
    FROM base_agg ba FULL OUTER JOIN delta_agg da ON ba.grp = da.grp
  ) WHERE n_orders > 0
),
merged AS (
  SELECT o_orderstatus,
         CASE WHEN bucket IN (0, 1) THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM b WHERE bucket <> 2
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM b WHERE bucket = 3
),
recomputed AS (
  SELECT o_orderstatus AS grp, count(*) AS n_orders,
         sum(CAST(o_totalprice AS {_DEC})) AS rev
  FROM merged GROUP BY o_orderstatus
)
SELECT m.grp,
       CAST(m.n_orders AS BIGINT) AS n_orders,
       CAST(round(m.rev, 2) AS DOUBLE) AS revenue,
       r.n_orders AS n_orders_full,
       CAST(round(r.rev, 2) AS DOUBLE) AS revenue_full,
       (m.n_orders = r.n_orders AND m.rev = r.rev)
         AS maintained_matches
FROM maintained m JOIN recomputed r ON m.grp = r.grp
"""


def _bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cdc:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _N_CDC_BUCKETS
    )
    return base.withColumn("bucket", bucket)


def maintained_agg(b: DataFrame) -> DataFrame:
    """(grp, n_orders, rev DECIMAL): base aggregate ⊕ signed delta
    aggregate — the production IVM arm. The delta union is three
    narrow selects over the bucketed scan (the banding idiom)."""
    dec = F.col("o_totalprice").cast(_DEC)
    base_agg = b.groupBy(F.col("o_orderstatus").alias("grp")).agg(
        F.count("*").alias("cnt"), F.sum(dec).alias("rev")
    )
    deltas = (
        b.filter(F.col("bucket").isin(0, 1))
        .select(
            F.col("o_orderstatus").alias("grp"),
            F.lit(0).cast("bigint").alias("d_cnt"),
            F.lit(100.00).cast(_DEC).alias("d_rev"),
        )
        .unionAll(
            b.filter(F.col("bucket") == 2).select(
                F.col("o_orderstatus").alias("grp"),
                F.lit(-1).cast("bigint").alias("d_cnt"),
                (-dec).alias("d_rev"),
            )
        )
        .unionAll(
            b.filter(F.col("bucket") == 3).select(
                F.col("o_orderstatus").alias("grp"),
                F.lit(1).cast("bigint").alias("d_cnt"),
                dec.alias("d_rev"),
            )
        )
    )
    delta_agg = deltas.groupBy("grp").agg(
        F.sum("d_cnt").alias("d_cnt"), F.sum("d_rev").alias("d_rev")
    )
    zero = F.lit(0).cast(_DEC)
    return (
        base_agg.join(delta_agg, "grp", "full_outer")
        .select(
            "grp",
            (
                F.coalesce("cnt", F.lit(0))
                + F.coalesce("d_cnt", F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("rev"), zero)
                + F.coalesce(F.col("d_rev"), zero)
            ).alias("rev"),
        )
        # a group whose rows are all deleted retires its state row —
        # without this, the maintained side would carry a (grp, 0,
        # 0.00) row the recompute side never produces and the final
        # inner join would silently drop it (pinned by the synthetic
        # full-group-delete contract test)
        .filter(F.col("n_orders") > 0)
    )


def recomputed_agg(b: DataFrame) -> DataFrame:
    """(grp, n_orders, rev DECIMAL): full re-aggregation over the
    merge-applied table — the certification arm."""
    survivors = b.filter(F.col("bucket") != 2).select(
        "o_orderstatus",
        F.when(
            F.col("bucket").isin(0, 1), F.col("o_totalprice") + F.lit(100.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserts = b.filter(F.col("bucket") == 3).select(
        "o_orderstatus", "o_totalprice"
    )
    return (
        survivors.unionAll(inserts)
        .groupBy(F.col("o_orderstatus").alias("grp"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev"),
        )
    )


@staged_query("ivm_orders_agg_maintenance", oracle=_ORACLE)
def ivm_orders_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(grp, n_orders, revenue, n_orders_full, revenue_full,
    maintained_matches) per o_orderstatus: the incrementally
    maintained aggregate next to the full recompute over the merged
    table, with the IVM identity (maintained == recomputed, exact
    DECIMAL equality) as a certified output column.
    STAGED-FOREVER under the saturation policy (registry docstring)."""
    b = _bucketed(spark, sf_dir)
    m = maintained_agg(b)
    r = recomputed_agg(b).select(
        "grp",
        F.col("n_orders").alias("n_full"),
        F.col("rev").alias("rev_full"),
    )
    return m.join(r, "grp").select(
        "grp",
        "n_orders",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.col("n_full").alias("n_orders_full"),
        F.round("rev_full", 2).cast("double").alias("revenue_full"),
        (
            (F.col("n_orders") == F.col("n_full"))
            & (F.col("rev") == F.col("rev_full"))
        ).alias("maintained_matches"),
    )
