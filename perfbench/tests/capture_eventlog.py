"""Regenerate tests/fixtures/eventlog_local2.json: a tiny local[2] Spark
run with two job groups, its event log trimmed to the fields the rollup
reads.

    python3 perfbench/tests/capture_eventlog.py

Group ``pbA``: 1000 rows through an Arrow UDF (mapInArrow), broadcast
joined with 50 keys, into the noop sink. Group ``pbB``: 1000 rows
grouped on ``id % 7`` over 2 partitions and collected (14 partial
aggregates shuffled, 7 rows back).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_local2.json")
KEEP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.sql.execution.id")
DROP = {
    "SparkListenerLogStart", "SparkListenerResourceProfileAdded", "SparkListenerExecutorAdded",
    "SparkListenerBlockManagerAdded", "SparkListenerEnvironmentUpdate", "SparkListenerApplicationStart",
    "SparkListenerApplicationEnd", "SparkListenerTaskStart",
}


def _identity(batches):
    yield from batches


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "simpleString": node["simpleString"],
        "metrics": node.get("metrics", []),
        "children": [_plan(c) for c in node.get("children", [])],
    }


def _props(e: dict) -> dict:
    return {k: v for k, v in (e.get("Properties") or {}).items() if k in KEEP_PROPS}


def trim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind in DROP:
        return None
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"], "Properties": _props(e)}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}, "Properties": _props(e)}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        return {"Event": kind, "Stage ID": e["Stage ID"], "Task Info": {
            "Task ID": info["Task ID"], "Failed": info["Failed"], "Killed": info["Killed"],
            "Accumulables": [a for a in info["Accumulables"] if a.get("Metadata") == "sql"]},
            "Task Metrics": e["Task Metrics"]}
    if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
        out = {"Event": kind, "executionId": e["executionId"], "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
        if "jobGroupId" in e:
            out["jobGroupId"] = e["jobGroupId"]
        return out
    return e


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="eventlog-fixture-")
    try:
        spark = (
            SparkSession.builder.master("local[2]").appName("eventlog-fixture")
            .config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", tmp)
            .config("spark.eventLog.compress", "false").config("spark.eventLog.rolling.enabled", "false")
            .config("spark.ui.enabled", "false").config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "2").getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("pbA", "pbA")
        a = spark.range(0, 1000, 1, 2).mapInArrow(_identity, "id long")
        b = spark.range(0, 50, 1, 2).withColumnRenamed("id", "k")
        a.join(F.broadcast(b), a.id == b.k).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("pbB", "pbB")
        spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 7).alias("m")).count().collect()
        spark.stop()
        (log,) = os.listdir(tmp)
        with open(os.path.join(tmp, log)) as f:
            events = [trim(json.loads(line)) for line in f if line.strip()]
        with open(FIXTURE, "w") as f:
            for e in events:
                if e is not None:
                    f.write(json.dumps(e) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
