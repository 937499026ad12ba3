"""Post-compaction near-dup pre-flagging — the production READ path
of the compacted ingestion band index (streaming/ingest_dedup.py).

``streaming_ingest_index_compaction`` certifies compaction's
ACCOUNTING (per-band raw row counts vs compacted key counts). Counts
are necessary but not sufficient: a compaction that swapped one band
key for another could keep every count identical while silently
changing which future arrivals get flagged. This query closes that
gap by certifying compaction's SEMANTICS end-to-end: it runs (or
reuses) the 3-wave replay, compacts a copy of the grown band index,
then pre-flags a deterministic PROBE delivery against the compacted
index — and the DuckDB oracle re-derives each probe's flag from the
raw relational state (corpus-seed bands plus every keeper's bands),
knowing nothing about compaction. Any band the compaction dropped or
invented flips some probe's flag and breaks the value hash.

The probe models the realistic hard case for an ingest pre-filter:
partial redeliveries. Each probe doc is the FIRST HALF (ceil(n/2)
words) of a fixture document — Jaccard ~0.5 against its source, so
band survival is genuinely data-dependent (a mixed true/false flag
column, not a degenerate all-true probe that an appended-token
perturbation would produce). Probe banding reuses the zero-shuffle
row-wise signature (``minhash_bands_rowwise`` — proven bit-identical
to the grouped arm), and the oracle reuses the proven band SQL over
the SAME halving expression (``_minhash_bands_sql(source=...)``).

Scale posture: probe bands are a projection (no shuffle), the flag
is one semi-join of 4·|probe| band rows against the compacted index
— a table of short strings orders of magnitude smaller than the
corpus that a production deployment would broadcast per delivery;
everything else is the compaction query's own posture (SCALE.md
§Streaming). PROMOTED to @query in the r16 displacement (retiree:
rollup_lineitem_flags, PLANS.md r16) after two rounds
staged-forever.

Reference parity: the reference engine has no streaming or index
surface (/root/reference/src/worker/worker.go:131-218); this belongs
to the training-data-pipeline extension surface.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.dedup_common import _minhash_bands_sql
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path as _scratch
from dist_map_reduce_spark.streaming.ingest_dedup import (
    N_INGEST_BATCHES,
    _sweep_dead_leftovers,
    compact_band_index,
    ensure_shared_replay,
    minhash_bands_rowwise,
)

_N_SPLIT = N_INGEST_BATCHES + 1

# first ceil(n/2) words of each fixture doc; single-word docs pass
# through whole (mirrors the shingle fallback's short-doc handling)
_PROBE_SQL = """
    SELECT doc_id,
           CASE WHEN len(ws) >= 2
                THEN array_to_string(ws[1:(len(ws) + 1) // 2], ' ')
                ELSE text END AS text
    FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
          FROM documents)
"""


def _probe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-side halving, expression-for-expression the oracle's
    ``_PROBE_SQL``: split on single spaces, keep the first
    (n + 1) div 2 words (DuckDB's ``//`` is integer division and its
    list slice is 1-based inclusive; Spark's ``slice`` takes a
    length, so both read "first ceil(n/2) elements")."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.when(
                F.size("ws") >= 2,
                F.array_join(
                    F.slice(
                        "ws", 1, F.expr("(size(ws) + 1) div 2")
                    ),
                    " ",
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


@query(
    "streaming_postcompaction_neardup_flags",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             ('0x' || substring(md5('ingest:' || doc_id::VARCHAR), 1, 8))
               ::BIGINT % {_N_SPLIT} AS bucket
      FROM documents
    ),
    arr AS (
      SELECT doc_id, text, bucket, md5(text) AS fp
      FROM d WHERE bucket > 0
    ),
    first_wave AS (SELECT fp, min(bucket) AS w FROM arr GROUP BY 1),
    keeper AS (
      SELECT arr.fp, min(arr.doc_id) AS doc_id, fw.w
      FROM arr JOIN first_wave fw ON arr.fp = fw.fp AND arr.bucket = fw.w
      GROUP BY arr.fp, fw.w
    ),
    all_bands AS ({_minhash_bands_sql()}),
    -- the index's MEMBERSHIP state after the full run: corpus-seed
    -- bands plus every keeper's bands, as a SET (what compaction
    -- must preserve exactly)
    state AS (
      SELECT DISTINCT ab.band_id, ab.band_key
      FROM all_bands ab JOIN d USING (doc_id)
      WHERE d.bucket = 0
      UNION
      SELECT DISTINCT ab.band_id, ab.band_key
      FROM all_bands ab JOIN keeper k ON ab.doc_id = k.doc_id
    ),
    probe_bands AS ({_minhash_bands_sql(source=f"({_PROBE_SQL})")}),
    hits AS (
      SELECT DISTINCT pb.doc_id
      FROM probe_bands pb
      JOIN state s
        ON pb.band_id = s.band_id AND pb.band_key = s.band_key
    )
    SELECT p.doc_id, (h.doc_id IS NOT NULL) AS corpus_neardup
    FROM ({_PROBE_SQL}) p LEFT JOIN hits h USING (doc_id)
    """,
)
def streaming_postcompaction_neardup_flags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, corpus_neardup): compact a copy of the replay-grown
    band index, then pre-flag the half-document probe delivery
    against the COMPACTED index only. The index is copied into this
    query's own scratch dir (the shared replay artifact is read-only
    by contract, and compaction mutates); the flag join reads
    exclusively the compacted parquet, so the oracle match certifies
    that compaction preserved the band-membership SET, not just the
    per-band counts."""
    shared = ensure_shared_replay(spark, sf_dir)
    # pid-suffixed work dir (ADVICE r13): two same-version processes
    # (sweep + pytest) running this staged query concurrently must not
    # rmtree each other's index copy mid-read. Same ``.build-<pid>``
    # convention as the shared-replay builder, so the dead-pid sweeper
    # reaps leftovers from crashed runs; our own dir from a previous
    # call in THIS process is removed explicitly below.
    base = _scratch(sf_dir, "postcompact_flags_q")
    _sweep_dead_leftovers(base)
    shutil.rmtree(base, ignore_errors=True)  # pre-r14 un-suffixed dir
    work = f"{base}.build-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    # normal exits clean their own copy (the returned plan is lazy,
    # so deletion must wait until the process is done reading);
    # crashed/killed processes are reaped by the dead-pid sweep above
    # on the next invocation
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    index_dir = os.path.join(work, "band_index")
    shutil.copytree(os.path.join(shared, "band_index"), index_dir)
    compact_band_index(spark, index_dir)

    probes = _probe_docs(spark, sf_dir)
    probe_bands = minhash_bands_rowwise(probes).select(
        "doc_id", F.explode_outer("bands").alias("band")
    )
    index = spark.read.parquet(index_dir)
    hits = (
        probe_bands.join(index, "band", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return probes.select("doc_id").join(
        hits.withColumn("corpus_neardup", F.lit(True)),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("corpus_neardup", F.lit(False)).alias("corpus_neardup"),
    )
