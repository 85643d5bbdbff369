"""Re-record ``data/eventlog`` (run from the repository root):

    python3 perfbench/tests/record_eventlog.py

Two job groups on local[2]: ``udf`` collects a mapInPandas, ``agg``
collects a grouped count. Only the events the fold reads are kept,
without their bulky fields; call sites name this file without its
directory.
"""

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted", "SparkListenerTaskEnd",
}  # fmt: skip
PROPS = ("spark.jobGroup.id", "callSite.short", "spark.sql.execution.id")


def plus(batches):
    for pdf in batches:
        pdf["y"] = pdf["x"] + 1
        yield pdf


def record(log_dir: str) -> None:
    from pyspark.sql import functions as F

    from noise_mitigation_spark.session import get_spark

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }
    spark = get_spark("record", cores=2, shuffle_partitions=2, extra_conf=conf)
    sc = spark.sparkContext
    sc.setJobGroup("udf", "udf")
    spark.range(0, 2000, numPartitions=2).withColumnRenamed("id", "x").mapInPandas(
        plus, "x long, y long"
    ).collect()
    sc.setJobGroup("agg", "agg")
    spark.range(0, 5000, numPartitions=3).groupBy((F.col("id") % 7).alias("k")).count().collect()
    spark.stop()


def trim(e: dict) -> dict:
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k in PROPS}
    e.pop("Stage Infos", None)
    if "Stage Info" in e:
        e["Stage Info"].pop("RDD Info", None)
        e["Stage Info"].pop("Details", None)
        e["Stage Info"]["Accumulables"] = [
            a for a in e["Stage Info"].get("Accumulables", []) if "Python" in a.get("Name", "")
        ]
    if e["Event"] == "SparkListenerTaskEnd":
        e["Task Info"].pop("Accumulables", None)
        e.pop("Task Executor Metrics", None)
        e.pop("Task End Reason", None)
    return e


def main() -> None:
    sys.path.insert(0, os.getcwd())
    log_dir = tempfile.mkdtemp()
    try:
        record(log_dir)
        events = []
        for path in glob.glob(f"{log_dir}/eventlog_v2_*/events_*"):
            with open(path) as f:
                events += [trim(e) for e in map(json.loads, f) if e["Event"] in KEEP]
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    dest = os.path.join(HERE, "data", "eventlog", "eventlog_v2_local-1")
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, "events_1_local-1"), "w") as f:
        for e in events:
            # call sites and stage names carry this file's absolute path
            f.write(json.dumps(e, separators=(",", ":")).replace(HERE + os.sep, "") + "\n")


if __name__ == "__main__":
    main()
