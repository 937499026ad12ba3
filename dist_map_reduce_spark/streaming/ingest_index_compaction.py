"""Offline band-index compaction — the operational maintenance query
for the growing ingestion near-dup index (streaming/ingest_dedup.py).

The index is append-only by design: each delivery's catch-up appends
its keepers' delivery-distinct bands without anti-joining the index
(an extra corpus-sized scan per delivery for what is only storage),
and crash replays may append a delivery's bands twice. Both leave
semantically-harmless duplicate rows behind — a membership semi-join
ignores them — that an offline compaction reclaims:
``compact_band_index`` rewrites the index as its DISTINCT band set
(staged write + swap; production flips a versioned manifest pointer).

This query certifies the whole maintenance story end-to-end: run the
3-wave ingestion replay, snapshot the RAW per-band row counts
(materialized to parquet BEFORE the swap — a lazy aggregate read
after the rewrite would silently re-list the compacted files: the
parquet re-listing trap), compact, and report per band_id the
compacted key count next to the raw row count. The DuckDB oracle
re-derives both numbers relationally: raw = corpus-distinct bands
plus each wave's keeper-distinct bands (exactly what the catch-ups
append across the run — per-delivery distinct, duplicates across
deliveries kept), compacted = the global distinct. A missed or
doubled catch-up, a compaction that drops or invents a band, or a
keeper-set drift all break the value hash.

Scale posture: the compaction is one distinct (hash-aggregate
shuffle) over the index — a table of short strings orders of
magnitude smaller than the corpus — run offline at whatever cadence
storage growth warrants; the reporting overlay is a 4-row-per-side
join.

Reference parity: the reference engine has no streaming or index
surface (its dataflow is the batch word-count ops,
/root/reference/src/worker/worker.go:131-218); this query belongs to
the training-data-pipeline extension surface.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.functions.dedup_common import _minhash_bands_sql
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path as _scratch
from dist_map_reduce_spark.streaming.ingest_dedup import (
    N_INGEST_BATCHES,
    _sweep_dead_leftovers,
    compact_band_index,
    ensure_shared_replay,
)

_N_SPLIT = N_INGEST_BATCHES + 1


@query(
    "streaming_ingest_index_compaction",
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
    -- what the run's catch-ups append: the corpus seed (distinct)
    -- plus each wave's keeper bands, DISTINCT WITHIN the delivery
    -- but kept across deliveries (append-only index)
    corpus_b AS (
      SELECT DISTINCT ab.band_id, ab.band_key
      FROM all_bands ab JOIN d USING (doc_id)
      WHERE d.bucket = 0
    ),
    wave_b AS (
      SELECT DISTINCT k.w, ab.band_id, ab.band_key
      FROM all_bands ab JOIN keeper k ON ab.doc_id = k.doc_id
    ),
    raw AS (
      SELECT band_id, band_key FROM corpus_b
      UNION ALL
      SELECT band_id, band_key FROM wave_b
    )
    SELECT band_id,
           count(DISTINCT band_key) AS n_keys,
           count(*) AS n_raw
    FROM raw
    GROUP BY band_id
    """,
)
def streaming_ingest_index_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(band_id, n_keys, n_raw): run (or reuse) the 3-wave ingestion
    replay, compact A COPY of its band index, and report per band the
    compacted distinct-key count against the raw (append-only) row
    count. The replay comes from the shared deterministic artifact
    (``ensure_shared_replay`` — VERDICT r11 #6: this query's 13 s
    bench cost was ~95% re-running a replay the ingest query had
    already run); the index is copied into this query's own scratch
    dir because compaction MUTATES it and the shared artifact is
    read-only by contract — copying also guarantees every invocation
    compacts the pristine post-replay index (raw counts stay
    reproducible), not the output of a previous compaction."""
    shared = ensure_shared_replay(spark, sf_dir)
    # pid-suffixed work dir (ADVICE r13, applied to both compaction
    # queries): concurrent same-version processes must not rmtree each
    # other's index copy mid-read; dead pids' leftovers are reaped by
    # the shared-replay sweeper (same ``.build-<pid>`` convention).
    base = _scratch(sf_dir, "ingest_compact_q")
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
    raw_counts_dir = os.path.join(work, "raw_counts")

    def by_band(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(
            F.substring_index("band", ":", 1).alias("band_id")
        ).agg(F.count("*").alias(out))

    # materialize the raw counts BEFORE the swap: the aggregate is
    # lazy and a post-swap execution would re-list the compacted
    # files (parquet re-listing trap — see module docstring)
    by_band(spark.read.parquet(index_dir), "n_raw").write.mode(
        "overwrite"
    ).parquet(raw_counts_dir)
    compact_band_index(spark, index_dir)
    comp = by_band(spark.read.parquet(index_dir), "n_keys")
    return comp.join(spark.read.parquet(raw_counts_dir), "band_id").select(
        "band_id", "n_keys", "n_raw"
    )
