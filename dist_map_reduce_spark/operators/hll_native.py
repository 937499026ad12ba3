"""Native HyperLogLog with EXACT cross-engine parity (staged-forever,
r15) — count-distinct as a mergeable register table, certified
end-to-end instead of contract-banded.

The existing approx_count_distinct_users (operators/approx.py) runs
Spark's built-in HLL++ and can only be certified via a 3-sigma
contract, because the sketch internals are engine-specific. This
module builds the registers themselves in the plan — md5-bucketed,
integer-rank — so DuckDB reproduces them bit-for-bit and the oracle
certifies the ESTIMATE, not just a band: the full
grade-the-contract treatment (exact distinct count, HLL estimate,
relative error per group), completing the sketch family's parity
story (CMS/Bloom/KMV/theta/t-digest all certify exactly; now the
count-distinct sketch does too).

Construction (Flajolet et al. 2007, m = 64 registers):
  h      = 48-bit md5-slice of the customer key ('hll:' salt, the
           repo hash idiom)
  bucket = h % 64          rest = h // 64   (42 bits)
  rank   = 1 + leading zeros of rest in 42-bit space — computed by a
           GENERATED integer CASE over powers of two (_RANK_SQL), not
           floor(log2(x)): log2 is correctly rounded in neither
           engine by spec, and a floor right behind a transcendental
           is exactly the cross-engine ulp trap the t-digest scale
           function dodged. Pure integer compares are bit-exact.
  register[b] = max rank in bucket b       (integer max — exact)

MERGE is the point: registers build PER GROUP (o_orderpriority) with one
map-side-combined aggregate, and the global sketch is the
element-wise MAX of the group registers — demonstrated in-plan by a
second tiny aggregate over the 5 x 64 register rows. At 100 TB this
is the classic one-pass tree: per-partition register tables (64 ints
each) merge by max up the tree; nothing data-scale ever moves after
the first combine.

Estimate, transcendental-free: raw = alpha_64 * m^2 / sum_j 2^(-M_j).
Each 2^(-M_j) is dyadic, so scaling by 2^43 makes the denominator an
INTEGER sum — order-independent, bit-exact in both engines:
  est = round(alpha_64 * m^2 * 2^43 / S, 6),  S = sum_j 2^(43 - M_j)
(empty bucket: M_j = 0 contributes 2^43). alpha_64 = 0.709 (the
constant the HLL paper prescribes for m = 64). Small-range linear
counting (V = #empty buckets > 0 and raw < 2.5m) uses the one
permitted transcendental, ln, under the repo's established
round-after-ln discipline (lm_score.py): round(m * ln(m/V), 6). The
branch is live on real data: at sf0.001 each group has ~130 distinct
keys against 64 buckets, V > 0 and raw < 160, so the per-group rows
take the linear-counting path there (and the raw path at larger
scales) — parity holds on both; a synthetic tiny-orders test
additionally pins the small-V region on both engines.

Reference parity: the reference has no distinct-count operator (word
count only, /root/reference/src/worker/worker.go:270-288); extension
surface next to approx_count_distinct_users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

M_REG = 64  # registers
_REST_BITS = 42  # 48-bit hash minus 6 bucket bits
ALPHA = 0.709  # alpha_64 from the HLL paper
_POW43 = float(1 << 43)

_H_SQL = "('0x' || substring(md5('hll:' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT"


def _rank_sql(rest: str) -> str:
    """1 + leading zeros of ``rest`` in 42-bit space, as a pure
    integer CASE (descending power-of-two compares)."""
    branches = " ".join(
        f"WHEN {rest} >= {1 << (_REST_BITS - r)} THEN {r}"
        for r in range(1, _REST_BITS + 1)
    )
    return f"CASE {branches} ELSE {_REST_BITS + 1} END"


def rank_col(rest: F.Column) -> F.Column:
    """Spark twin of :func:`_rank_sql` — same compares, same ints."""
    out = None
    for r in range(1, _REST_BITS + 1):
        cond = rest >= F.lit(1 << (_REST_BITS - r))
        out = F.when(cond, F.lit(r)) if out is None else out.when(cond, F.lit(r))
    return out.otherwise(F.lit(_REST_BITS + 1))


# estimator over a register table reg(g, bucket, m_rank): integer
# denominator S = sum 2^(43 - M_j), with the V = m - count(*) empty
# buckets (absent rows) contributing 2^43 each. The raw/linear-
# counting CASE is spelled twice because SQL has no local bindings —
# both copies are generated from the same constants.
# NOTE the e0 suffixes: DuckDB parses bare decimal literals as
# DECIMAL (whose multiplication overflows at this magnitude and
# whose division semantics differ from Spark's double division);
# e-notation forces DOUBLE, parsing to the same IEEE value as the
# Spark-side F.lit floats.
_S_SQL = (
    f"(sum(1::BIGINT << (43 - m_rank)) + ({M_REG} - count(*)) * {1 << 43})"
)
_RAW_SQL = f"({ALPHA!r}e0 * {M_REG * M_REG} * {_POW43:.0f}e0 / {_S_SQL})"


def _est_sql(reg: str) -> str:
    return f"""
    SELECT g,
           CASE WHEN ({M_REG} - count(*)) > 0
                 AND {_RAW_SQL} < {2.5 * M_REG!r}e0
           THEN round({M_REG} * ln(CAST({M_REG} AS DOUBLE)
                                   / ({M_REG} - count(*))), 6)
           ELSE round({_RAW_SQL}, 6)
           END AS hll_est
    FROM {reg} GROUP BY g
    """


_ORACLE = f"""
WITH hashed AS (
  SELECT DISTINCT o_orderpriority AS g, {_H_SQL} AS h FROM orders
),
ranked AS (
  SELECT g, h % {M_REG} AS bucket,
         {_rank_sql(f"(h // {M_REG})")} AS r
  FROM hashed
),
reg AS (
  SELECT g, bucket, max(r) AS m_rank FROM ranked GROUP BY g, bucket
),
merged_reg AS (
  SELECT '__merged__' AS g, bucket, max(m_rank) AS m_rank
  FROM reg GROUP BY bucket
),
all_reg AS (SELECT * FROM reg UNION ALL SELECT * FROM merged_reg),
est AS ({_est_sql("all_reg")}),
exact AS (
  SELECT o_orderpriority AS g, count(DISTINCT o_custkey) AS n_exact
  FROM orders GROUP BY o_orderpriority
  UNION ALL
  SELECT '__merged__' AS g, count(DISTINCT o_custkey) AS n_exact FROM orders
)
SELECT e.g AS grp, x.n_exact, e.hll_est,
       round(abs(e.hll_est - x.n_exact) / x.n_exact, 6) AS rel_err
FROM est e JOIN exact x ON e.g = x.g
"""


@staged_query("hll_native_customer_cardinality", oracle=_ORACLE)
def hll_native_customer_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(grp, n_exact, hll_est, rel_err) per o_orderpriority plus the
    '__merged__' row whose registers are the element-wise max of the
    group registers — the HLL merge certified in-plan. orders/
    o_custkey is the fixture's one dimension whose per-group id sets
    OVERLAP WITHOUT COINCIDING (every event_type shares the exact
    same user set, which would make the merged row identical to the
    group rows and the merge demo vacuous), so the merged estimate
    differs from every group estimate for real.
    STAGED-FOREVER under the saturation policy (registry docstring)."""
    ev = load_table(spark, sf_dir, "orders")
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("hll:"), F.col("o_custkey").cast("string")
                    ).cast("binary")
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    hashed = ev.select(F.col("o_orderpriority").alias("g"), h).distinct()
    ranked = hashed.select(
        "g",
        (F.col("h") % M_REG).alias("bucket"),
        rank_col(F.floor(F.col("h") / M_REG)).alias("r"),
    )
    reg = ranked.groupBy("g", "bucket").agg(F.max("r").alias("m_rank"))
    merged = (
        reg.groupBy("bucket")
        .agg(F.max("m_rank").alias("m_rank"))
        .select(F.lit("__merged__").alias("g"), "bucket", "m_rank")
    )
    all_reg = reg.unionByName(merged)

    # S = sum 2^(43 - M_j) as an exact INTEGER; empty buckets (rows
    # absent from the register table) contribute 2^43 each
    # the Python helper F.shiftleft wants a literal shift — the SQL
    # form accepts a column one
    pow_term = F.expr("shiftleft(CAST(1 AS BIGINT), 43 - m_rank)")
    agg = all_reg.groupBy("g").agg(
        F.sum(pow_term).alias("s_present"),
        F.count("*").alias("n_buckets"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(M_REG) - F.col("n_buckets")) * F.lit(1 << 43)
    )
    v_empty = F.lit(M_REG) - F.col("n_buckets")
    raw = F.lit(ALPHA) * F.lit(M_REG * M_REG) * F.lit(_POW43) / s_total
    est = agg.select(
        "g",
        F.when(
            (v_empty > 0) & (raw < F.lit(2.5 * M_REG)),
            F.round(
                F.lit(M_REG)
                * F.log(F.lit(M_REG) * F.lit(1.0) / v_empty),
                6,
            ),
        )
        .otherwise(F.round(raw, 6))
        .alias("hll_est"),
    )

    exact = (
        ev.groupBy(F.col("o_orderpriority").alias("g"))
        .agg(F.countDistinct("o_custkey").alias("n_exact"))
        .unionByName(
            ev.agg(F.countDistinct("o_custkey").alias("n_exact")).select(
                F.lit("__merged__").alias("g"), "n_exact"
            )
        )
    )
    return est.join(exact, "g").select(
        F.col("g").alias("grp"),
        "n_exact",
        "hll_est",
        F.round(
            F.abs(F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )
