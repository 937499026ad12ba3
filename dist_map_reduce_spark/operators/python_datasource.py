"""Custom Python Data Source (staged-forever, r16) — the engine's
first exercise of Spark 4's Python Data Source API (SPARK-44076):
a user-defined `pyspark.sql.datasource.DataSource` registered with
`spark.dataSource.register` and read with `spark.read.format(...)`,
completing the Spark-4 extension-surface story alongside the Python
UDTF (functions/python_udfs.py), VARIANT (operators/json_ops.py) and
WITH RECURSIVE (operators/recursion.py).

The source generates a deterministic synthetic event table: row gid
in [0, N) carries h = first 12 hex digits of md5('synth:' || gid)
(the repo's engine-portable hash idiom — hashlib here, DuckDB md5 in
the oracle, the same bytes by construction) and bucket = h % 97. N
is the fixture's events row count read from parquet FOOTER metadata
(no Spark job), so the source scales with the fixture and the oracle
regenerates the identical table with generate_series. The query
aggregates per bucket (count + exact integer sum of h), so one wrong
or missing generated row anywhere mismatches.

Why this matters for the engine: reading non-file systems (REST
APIs, message queues, bespoke formats) is exactly what this API is
for, and its contract — schema(), partitions(), read(partition) —
is the MapReduce input-split contract (reference parity:
src/master/master.go hands workers file splits; a DataSource hands
executors InputPartitions). Each partition generates its slice
independently, so the read is embarrassingly parallel across
executors; the per-row Python loop inside read() is the API's
documented cost (it runs OUTSIDE the JVM), which is why the source
emits coarse partitions and the downstream aggregate is JVM-side.
At 100 TB the same class streams Arrow batches per partition — the
shape is identical, only the batch materialization changes.

STAGED-FOREVER under the saturation policy (registry docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.registry import staged_query

N_PARTS = 8  # InputPartition count — the parallel-read grain
_SALT = "synth:"

_ORACLE = """
WITH n AS (SELECT count(*) AS total FROM events),
gen AS (
  SELECT gid,
         ('0x' || substring(md5('synth:' || CAST(gid AS VARCHAR)),
                            1, 12))::BIGINT AS h
  FROM (SELECT unnest(generate_series(0, (SELECT total FROM n) - 1)) AS gid)
)
SELECT h % 97 AS bucket,
       count(*) AS n_rows,
       CAST(sum(h) AS BIGINT) AS sum_h
FROM gen
GROUP BY 1
"""


def _make_source():
    """The DataSource class, built lazily so importing this module
    never requires the datasource API (registration happens inside
    the query)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SynthReader(DataSourceReader):
        def __init__(self, options):
            self.total = int(options["total_rows"])
            self.parts = int(options.get("partitions", N_PARTS))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            import hashlib

            # contiguous gid slice per partition: ceil-split so the
            # union over partitions is exactly [0, total)
            per = -(-self.total // self.parts)
            lo = partition.value * per
            hi = min(lo + per, self.total)
            for gid in range(lo, hi):
                h = int(
                    hashlib.md5(
                        f"{_SALT}{gid}".encode()
                    ).hexdigest()[:12],
                    16,
                )
                yield (gid, h)

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "dist_map_reduce_synthgen"

        def schema(self):
            return "gid bigint, h bigint"

        def reader(self, schema):
            return SynthReader(self.options)

    return SynthSource


@staged_query("python_datasource_synth", oracle=_ORACLE)
def python_datasource_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket rollup of the custom-source table: (bucket, n_rows,
    sum_h) over N generated rows, N = the fixture's events row count
    (parquet footer — no job). The oracle regenerates the same table
    with generate_series + md5, so the custom source's entire output
    is value-certified. Registration is idempotent per session."""
    import pyarrow.parquet as pq

    # footer-only row count; the fixture ships events as a single
    # file, the scale-probe corpus as a directory of part files
    target = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(target):
        total = sum(
            pq.ParquetFile(os.path.join(target, f)).metadata.num_rows
            for f in os.listdir(target)
            if f.endswith(".parquet")
        )
    else:
        total = pq.ParquetFile(target).metadata.num_rows
    spark.dataSource.register(_make_source())
    gen = (
        spark.read.format("dist_map_reduce_synthgen")
        .option("total_rows", str(total))
        .option("partitions", str(N_PARTS))
        .load()
    )
    return (
        gen.groupBy((F.col("h") % 97).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("h").alias("sum_h"),
        )
    )
