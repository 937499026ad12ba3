"""Record the small event log the parser test reads.

    python3 perfbench/tests/data/record_eventlog.py <scratch dir>

Runs one batch job with a shuffle, one mapInArrow job and one
availableNow streaming aggregation on ``local[2]``, then writes
``eventlog_small.json`` (the log, without the event kinds and fields
the parser never reads) and ``eventlog_small.expected.json`` (totals
counted straight from the untrimmed log) next to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
DROP_EVENTS = (
    "SparkListenerEnvironmentUpdate",
    "SparkListenerTaskStart",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerDriverAccumUpdates",
)


def record(work: str) -> str:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "log"))
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", os.path.join(work, "log"))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobGroup("batch", "batch")
    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().write.format("noop").mode(
        "overwrite"
    ).save()
    sc.setJobGroup("arrow", "arrow")

    def same(batches):
        yield from batches

    spark.range(100).repartition(2).mapInArrow(same, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    src = os.path.join(work, "src")
    spark.range(50).withColumn("k", F.col("id") % 5).write.parquet(src)
    q = (
        spark.readStream.schema("id long, k long")
        .parquet(src)
        .groupBy("k")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .start()
    )
    q.awaitTermination()
    spark.stop()
    (name,) = os.listdir(os.path.join(work, "log"))
    return os.path.join(work, "log", name)


def expected(events: list[dict]) -> dict:
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    ran = {e["Stage ID"] for e in tasks}
    progress = [e["progress"] for e in events if e["Event"].endswith("QueryProgressEvent")]

    def acc(name):
        return sum(
            int(a["Update"])
            for e in tasks
            for a in e["Task Info"].get("Accumulables", [])
            if a.get("Name") == name
        )

    return {
        "sched.jobs": len(jobs),
        "sched.stages": len({s for j in jobs for s in j["Stage IDs"]} & ran),
        "sched.tasks": len(tasks),
        "exec.run_s": sum(e["Task Metrics"]["Executor Run Time"] for e in tasks) / 1e3,
        "exec.cpu_s": sum(e["Task Metrics"]["Executor CPU Time"] for e in tasks) / 1e9,
        "shuffle.write_bytes": sum(
            e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in tasks
        ),
        "python.bytes_sent": acc("data sent to Python workers"),
        "python.bytes_returned": acc("data returned from Python workers"),
        "stream.batches": len(progress),
        "stream.state_rows": sum(
            s["numRowsTotal"] for p in progress[-1:] for s in p["stateOperators"]
        ),
        "aqe.plan_updates": sum(
            1 for e in events if e["Event"].endswith("SparkListenerSQLAdaptiveExecutionUpdate")
        ),
    }


def trim(e: dict) -> dict:
    e.pop("Stage Infos", None)
    e.pop("Task Executor Metrics", None)
    e.pop("physicalPlanDescription", None)
    return e


def main() -> None:
    path = record(sys.argv[1])
    with open(path, encoding="utf-8") as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(HERE, "eventlog_small.expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected(events), f, indent=1, sort_keys=True)
    with open(os.path.join(HERE, "eventlog_small.json"), "w", encoding="utf-8") as f:
        for e in events:
            if not e["Event"].endswith(DROP_EVENTS):
                f.write(json.dumps(trim(e)) + "\n")


if __name__ == "__main__":
    main()
