"""t-digest quantile sketch with a certified MERGE step — the
mergeable-summaries complement to the sketch trio (CMS = frequency,
Bloom = membership, KMV = cardinality, t-digest = QUANTILES).

Exact quantiles over 100 TB need a full sort or a multi-pass
select; the production answer (Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests") is a bounded-size centroid
summary built per partition and MERGED up the tree — one pass,
O(delta) memory per digest, and accuracy that is relative to q(1-q),
i.e. tightest at the tails, where data work (p99 latencies, outlier
cuts, contamination thresholds) actually looks. This query certifies
the whole pipeline shape grade-the-contract style (the
histogram_equidepth_approx / text_cms move): per-group digests →
merge into one global digest → estimate a 7-point quantile panel →
pair each estimate with the EXACT interpolated quantile and the
absolute error. The digest's own lossiness is the certified output,
and the fixture errors are non-zero at every scale (the contract
test pins non-degeneracy), so the oracle grades a real sketch.

Reference parity: the reference engine has no quantile operator at
all (word count is its one query, /root/reference/src/worker/
worker.go:270-288); this belongs to the extension surface next to
approx_percentile_prices (GK) and histogram_equidepth_approx.

DETERMINISM — the transcendental-free scale function. Dunning's k1
scale function is (delta/2pi)*asin(2q-1); asin is NOT identically
rounded across engines (JVM Math.asin vs DuckDB's libm can differ by
1 ulp) and a floor() sits right behind it, so one straddled ulp
would put one engine's row in a different cluster and break parity.
Production t-digest implementations already replace asin with a
polynomial approximation for speed; we replace it with a PIECEWISE-
LINEAR approximation on fixed rational nodes (_NODES below, the
6-dp-rounded values of asin(t)/pi + 0.5) for *cross-engine
bit-identity*: every input to the cluster expression is derived from
integers (row_number, counts) by IEEE +,-,*,/ — all correctly
rounded, hence bit-identical in Spark and DuckDB — and the node
constants parse to identical doubles from identical decimal
literals. Same-shaped tail behavior (cluster capacity ~ q(1-q) at
the resolution the node grid gives), zero transcendental drift by
construction. The usual 6-dp rounding rules (lm_score.py) apply to
the value-side sums: centroid means and final estimates round to
6 dp AFTER their sums to absorb sum-order ulps.

Shape (both engines, same three stages):
 1. BUILD, one digest per event_type: rank rows within the group by
    (value, event_id), q = (r - 0.5)/n, cluster = floor(DELTA *
    s(2q-1)) — a map-side projection plus ONE hash aggregate down to
    <= groups * DELTA centroids (weight, 6-dp mean).
 2. MERGE, the step that makes it a summary PIPELINE: all centroids
    sorted by mean, re-clustered by the SAME scale function on their
    cumulative-weight midpoints q_mid = (cumw - w/2)/N — exactly
    Dunning's merging digest applied to centroids instead of points
    — then re-averaged (weighted, 6-dp). Centroid-scale work:
    <= groups * DELTA rows through one window + one hash aggregate.
 3. ESTIMATE: for each probe p, target rank p*N is bracketed between
    adjacent global-centroid midpoints (max-mid-below via a tiny
    window join) and linearly interpolated between their means —
    the standard t-digest quantile read-out.

At 100 TB: stage 1 is the only corpus-scale work — one shuffle on
the digest dimension and a per-group sort. The certified dimension
here is event_type (deterministic, cross-engine); the production
build (:func:`partition_digests`) digests each task's own Arrow
batches in place via mapInPandas — zero shuffle, memory bounded by
the batch size, same scale function — and feeds the same stage-2
merge, giving the classic single-pass tree aggregation with no
global or per-group sort at all. That swap is not cross-engine
reproducible (batching is engine-specific), which is exactly why
the CERTIFIED query pins the deterministic group dimension and the
production path shares every line downstream of it. Stages 2 and 3
are centroid-scale (groups * DELTA rows) regardless of corpus size;
the global window in stage 2 sorts <= groups * DELTA rows, not data.
The EXACT arm (percentile over the raw values) is grading-only —
the production deployment runs the digest arm alone; that is the
sketch's entire point (the text_kmv.py convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import staged_query

# digest compression: max clusters per digest. 64 gives ~1% relative
# error at p99 on the fixture while the error stays honestly non-zero
# at every probe and scale (32 read ~4% at p99 — too crude for the
# operator whose selling point is tail accuracy).
DELTA = 64

# piecewise-linear nodes for s(t) ~= asin(t)/pi + 0.5 on t in
# [-1, 1]: (t, s) with s the 6-dp round of the asin form. Symmetric,
# dense at the tails (where k1's derivative blows up), and every
# coordinate an exact short decimal so both engines parse identical
# doubles.
_NODES = [
    (-1.0, 0.0),
    (-0.998, 0.020135),
    (-0.99, 0.045053),
    (-0.95, 0.101083),
    (-0.85, 0.176602),
    (-0.6, 0.295167),
    (0.0, 0.5),
    (0.6, 0.704833),
    (0.85, 0.823398),
    (0.95, 0.898917),
    (0.99, 0.954947),
    (0.998, 0.979865),
    (1.0, 1.0),
]

# the quantile panel: tails + quartiles + median
PROBES = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]


def _d(x: float) -> str:
    """A float constant as SQL that DuckDB parses as DOUBLE. The e0
    suffix is load-bearing: a bare decimal literal parses as DECIMAL
    there, and an all-DECIMAL subexpression like (s1-s0)/(t1-t0) is
    then computed in EXACT decimal arithmetic — e.g. the mid-segment
    slope reads 0.47426 exact instead of the correctly-rounded
    double chain's 0.4742599999999997 — silently breaking the
    bit-identical-doubles invariant the cluster floor() depends on
    (caught by review in r15; the hll_native module hit the same
    DuckDB behavior as an overflow and documents it there).
    Scientific-notation reprs are already DOUBLE literals; appending
    e0 to them would be a syntax error."""
    r = repr(x)
    return r if "e" in r else f"{r}e0"


def scale_s_sql(t_expr: str) -> str:
    """The piecewise-linear scale function as portable SQL over a
    t-expression in [-1, 1]. Slopes are computed at runtime from the
    node constants ((s1-s0)/(t1-t0)) — identical literals, identical
    correctly-rounded DOUBLE divisions (see :func:`_d`), identical
    doubles in both engines."""
    cases = []
    for (t0, s0), (t1, s1) in zip(_NODES, _NODES[1:]):
        cases.append(
            f"WHEN {t_expr} <= {_d(t1)} THEN "
            f"{_d(s0)} + ({t_expr} - {_d(t0)}) * "
            f"(({_d(s1)} - {_d(s0)}) / ({_d(t1)} - {_d(t0)}))"
        )
    return (
        "CASE WHEN "
        + f"{t_expr} <= {_d(_NODES[0][0])} THEN 0.0e0 "
        + " ".join(cases)
        + " ELSE 1.0e0 END"
    )


def scale_s(t: Column) -> Column:
    """Spark twin of :func:`scale_s_sql` — same nodes, same runtime
    slope divisions, so the two engines agree bit-for-bit."""
    expr = F.when(t <= F.lit(_NODES[0][0]), F.lit(0.0))
    for (t0, s0), (t1, s1) in zip(_NODES, _NODES[1:]):
        expr = expr.when(
            t <= F.lit(t1),
            F.lit(s0)
            + (t - F.lit(t0))
            * ((F.lit(s1) - F.lit(s0)) / (F.lit(t1) - F.lit(t0))),
        )
    return expr.otherwise(F.lit(1.0))


def cluster_of(t: Column) -> Column:
    """t in [-1, 1] -> cluster id in [0, DELTA-1]."""
    return F.least(
        F.floor(F.lit(float(DELTA)) * scale_s(t)), F.lit(DELTA - 1)
    ).cast("int")


def _cluster_sql(t_expr: str) -> str:
    return (
        f"CAST(least(floor({_d(float(DELTA))} * ({scale_s_sql(t_expr)})), "
        f"{DELTA - 1}) AS INTEGER)"
    )


def group_digests(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Stage 1, certified shape: one t-digest per GROUP (a
    deterministic, cross-engine dimension), ranked with an event_id
    tie-break so both engines cluster identically. The production
    twin is :func:`partition_digests` (physical partitions, no
    tie-break needed — any within-partition order yields a valid
    digest); both feed the same :func:`merge_digests`."""
    wspec = Window.partitionBy(group_col).orderBy(value_col, "event_id")
    nspec = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        F.col(value_col).alias("v"),
        F.row_number().over(wspec).alias("r"),
        F.count("*").over(nspec).alias("n"),
    )
    t = (
        F.lit(2.0) * ((F.col("r").cast("double") - F.lit(0.5)) / F.col("n"))
        - F.lit(1.0)
    )
    return (
        ranked.select(group_col, "v", cluster_of(t).alias("c"))
        .groupBy(group_col, "c")
        .agg(F.count("*").alias("w"), F.sum("v").alias("vsum"))
        .select(
            group_col,
            "c",
            "w",
            F.round(F.col("vsum") / F.col("w"), 6).alias("mean"),
        )
    )


def merge_digests(cent: DataFrame, group_col: str) -> DataFrame:
    """Stage 2: merge per-group digests into ONE global digest —
    (gc, gw, gmean). Centroid-scale."""
    order = Window.orderBy("mean", group_col, "c")
    everything = Window.partitionBy()
    cum = cent.select(
        "w",
        "mean",
        F.sum("w").over(order.rowsBetween(Window.unboundedPreceding, 0)).alias("cumw"),
        F.sum("w").over(everything).alias("n_total"),
    )
    q_mid = (F.col("cumw").cast("double") - F.col("w") / F.lit(2.0)) / F.col(
        "n_total"
    )
    t_mid = F.lit(2.0) * q_mid - F.lit(1.0)
    return (
        cum.select(
            "w", "mean", cluster_of(t_mid).alias("gc"), "n_total"
        )
        .groupBy("gc")
        .agg(
            F.sum("w").alias("gw"),
            F.sum(F.col("w") * F.col("mean")).alias("wm"),
            F.max("n_total").alias("n_total"),
        )
        .select(
            "gc",
            "gw",
            F.round(F.col("wm") / F.col("gw"), 6).alias("gmean"),
            "n_total",
        )
    )


_SCALE_SQL_POINT = _cluster_sql(
    "(2.0e0 * ((CAST(r AS DOUBLE) - 0.5e0) / n) - 1.0e0)"
)
_SCALE_SQL_MID = _cluster_sql(
    "(2.0e0 * ((CAST(cumw AS DOUBLE) - w / 2.0e0) / n_total) - 1.0e0)"
)

_ORACLE = f"""
WITH ranked AS (
  SELECT event_type,
         value AS v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         count(*)    OVER (PARTITION BY event_type)   AS n
  FROM events
),
cent AS (
  SELECT event_type, c, count(*) AS w, round(sum(v) / count(*), 6) AS mean
  FROM (SELECT event_type, v, {_SCALE_SQL_POINT} AS c FROM ranked)
  GROUP BY event_type, c
),
cum AS (
  SELECT w, mean, event_type, c,
         sum(w) OVER (ORDER BY mean, event_type, c
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         sum(w) OVER ()                         AS n_total
  FROM cent
),
gcent AS (
  SELECT gc, sum(w) AS gw,
         round(sum(w * mean) / sum(w), 6) AS gmean,
         max(n_total) AS n_total
  FROM (SELECT w, mean, {_SCALE_SQL_MID} AS gc, n_total FROM cum)
  GROUP BY gc
),
gmid0 AS (
  SELECT gc, gw, gmean, n_total,
         sum(gw) OVER (ORDER BY gmean, gc ROWS UNBOUNDED PRECEDING)
           - gw / 2.0e0 AS mid
  FROM gcent
),
gmid AS (
  SELECT gc, gw, gmean, n_total, mid,
         lead(gmean) OVER (ORDER BY gmean, gc) AS next_gmean,
         lead(mid)   OVER (ORDER BY gmean, gc) AS next_mid,
         min(mid)    OVER ()                   AS min_mid,
         count(*)    OVER ()                   AS n_centroids
  FROM gmid0
),
probes AS (
  SELECT * FROM (VALUES {", ".join(f"({i + 1}, {_d(p)})" for i, p in enumerate(PROBES))})
         AS t(pid, p)
),
bracket AS (
  SELECT p, pid, n_centroids,
         greatest(p * g.n_total, g.min_mid) AS tgt,
         g.gmean, g.mid, g.next_gmean, g.next_mid,
         row_number() OVER (PARTITION BY pid ORDER BY g.mid DESC) AS rn
  FROM probes, gmid g
  WHERE g.mid <= greatest(p * g.n_total, g.min_mid)
),
est AS (
  SELECT p, pid, n_centroids,
         round(CASE WHEN next_mid IS NULL THEN gmean
               ELSE gmean + (tgt - mid) / (next_mid - mid)
                            * (next_gmean - gmean) END, 6) AS tdigest_v
  FROM bracket WHERE rn = 1
),
exact AS (
  SELECT quantile_cont(value, {PROBES!r}) AS arr FROM events
)
SELECT p,
       n_centroids,
       round(arr[pid], 6)               AS exact_v,
       tdigest_v,
       round(abs(round(arr[pid], 6) - tdigest_v), 6) AS abs_err
FROM est, exact
"""


def partition_digests(df: DataFrame, value_col: str) -> DataFrame:
    """Stage 1, PRODUCTION shape: t-digests built with ZERO shuffle.

    A first cut used ``Window.partitionBy(spark_partition_id())`` —
    which LOOKS partition-local but is not: Catalyst has no idea the
    partitioning column equals the current partitioning, so it plans
    a full-data Exchange under the window (r15 review finding). The
    honest zero-shuffle build is ``mapInPandas``: each task digests
    its own Arrow batches in place — sort the batch (numpy), assign
    q-ranks, cluster with the SAME piecewise scale function, emit
    (part, c, w, mean) centroid rows. One digest per BATCH rather
    than per partition is fine — digests merge, that is their whole
    contract — and it bounds memory by the Arrow batch size instead
    of the partition size, which is strictly better at 100 TB.

    Library surface, not an oracle query: batch boundaries are
    engine/runtime-specific, so the output is reproducible only up
    to digest accuracy — the contract test checks the merged
    read-out lands inside the exact rank band, which is the
    guarantee a digest actually makes. The merge/read-out downstream
    (:func:`merge_digests` / :func:`quantile_readout`) is
    byte-for-byte the certified code path."""
    import numpy as np
    import pandas as pd

    nodes_t = np.array([t for t, _ in _NODES])
    nodes_s = np.array([s for _, s in _NODES])
    delta = DELTA

    def digest_batches(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for bi, pdf in enumerate(batches):
            v = np.sort(pdf[value_col].to_numpy(dtype=float))
            n = len(v)
            if n == 0:
                continue
            q = (np.arange(1, n + 1) - 0.5) / n
            s = np.interp(2.0 * q - 1.0, nodes_t, nodes_s)
            c = np.minimum(np.floor(delta * s).astype(int), delta - 1)
            agg = (
                pd.DataFrame({"c": c, "v": v})
                .groupby("c")["v"]
                .agg(["count", "sum"])
                .reset_index()
            )
            yield pd.DataFrame(
                {
                    # unique digest id per (task, batch) — the merge
                    # only needs it as a deterministic-enough
                    # tie-break column
                    "part": pid * 1_000_000 + bi,
                    "c": agg["c"],
                    "w": agg["count"],
                    "mean": (agg["sum"] / agg["count"]).round(6),
                }
            )

    return df.select(F.col(value_col).alias(value_col)).mapInPandas(
        digest_batches, "part BIGINT, c INT, w BIGINT, mean DOUBLE"
    )


def quantile_readout(spark: SparkSession, gcent: DataFrame) -> DataFrame:
    """Stage 3: (p, pid, n_centroids, tdigest_v) from a merged
    global digest — shared by the certified query and the
    partition-path production entry point."""
    gorder = Window.orderBy("gmean", "gc")
    everything = Window.partitionBy()
    cumg = F.sum("gw").over(gorder.rowsBetween(Window.unboundedPreceding, 0))
    gmid0 = gcent.select(
        "gc",
        "gw",
        "gmean",
        "n_total",
        (cumg - F.col("gw") / F.lit(2.0)).alias("mid"),
    )
    gmid = gmid0.select(
        "gc",
        "gw",
        "gmean",
        "n_total",
        "mid",
        F.lead("gmean").over(gorder).alias("next_gmean"),
        F.lead("mid").over(gorder).alias("next_mid"),
        F.min("mid").over(everything).alias("min_mid"),
        F.count("*").over(everything).alias("n_centroids"),
    )

    probes = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(PROBES)], "pid INT, p DOUBLE"
    )
    # probes (7 rows) x global centroids (<= DELTA rows) — a bounded
    # non-equi join; BroadcastNestedLoopJoin at every scale because
    # BOTH sides are sketch-sized, not data-sized
    tgt = F.greatest(F.col("p") * F.col("n_total"), F.col("min_mid"))
    bracket = (
        probes.join(F.broadcast(gmid), F.col("mid") <= tgt)
        .withColumn("tgt", tgt)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(F.col("mid").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return bracket.select(
        "p",
        "pid",
        "n_centroids",
        F.round(
            F.when(F.col("next_mid").isNull(), F.col("gmean")).otherwise(
                F.col("gmean")
                + (F.col("tgt") - F.col("mid"))
                / (F.col("next_mid") - F.col("mid"))
                * (F.col("next_gmean") - F.col("gmean"))
            ),
            6,
        ).alias("tdigest_v"),
    )


def tdigest_partition_quantiles(
    spark: SparkSession, df: DataFrame, value_col: str
) -> DataFrame:
    """PRODUCTION entry point: partition-local digests -> merge ->
    read-out, one pass over the data with zero data-scale shuffles
    (the only exchanges move centroid-scale rows)."""
    return quantile_readout(
        spark, merge_digests(partition_digests(df, value_col), "part")
    ).select("p", "n_centroids", "tdigest_v")


@staged_query("tdigest_quantile_merge", oracle=_ORACLE)
def tdigest_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p, n_centroids, exact_v, tdigest_v, abs_err) for the 7-probe
    panel: per-event_type t-digests, merged into one global digest,
    read out at each probe, graded against the exact interpolated
    quantile. STAGED-FOREVER under the saturation policy unless a
    displacement opens a slot (registry docstring)."""
    ev = load_table(spark, sf_dir, "events")
    cent = group_digests(ev, "event_type", "value")
    gcent = merge_digests(cent, "event_type")
    est = quantile_readout(spark, gcent)

    exact = ev.agg(
        F.expr(
            f"percentile(value, array({', '.join(repr(p) for p in PROBES)}))"
        ).alias("arr")
    )
    # 1-row broadcast scalar (the sanctioned crossJoin pattern)
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "p",
            "n_centroids",
            F.round(F.element_at("arr", F.col("pid")), 6).alias("exact_v"),
            "tdigest_v",
        )
        .withColumn(
            "abs_err", F.round(F.abs(F.col("exact_v") - F.col("tdigest_v")), 6)
        )
    )
