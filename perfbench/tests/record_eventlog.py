"""Record the small Spark event log that test_tracing.py parses.

    python3 perfbench/tests/record_eventlog.py

Runs three jobs under two traced spans (a parquet write, and a shuffle
aggregation nested in a parent span with a job of its own) plus one job
outside any span, then keeps only the event kinds the parser reads,
drops bulky fields, and writes ``data/eventlog_small.jsonl`` and
``data/spans_small.json`` next to this file.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd", "SparkListenerSQLExecutionStart", "SparkListenerSQLExecutionEnd",
    "SparkListenerSQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates",
}
# bulky fields, and every field that carries a call site or a file path
DROP = ("details", "description", "physicalPlanDescription", "modifiedConfigs", "jobTags",
        "Stage Infos", "Stage Name", "Details", "RDD Info", "Task Executor Metrics",
        "metadata")


def _strip(obj):
    if isinstance(obj, dict):
        if "spark.jobGroup.id" in obj or "spark.rdd.scope" in obj:  # job/stage properties
            return {k: v for k, v in obj.items() if k == "spark.jobGroup.id"}
        return {k: _strip(v) for k, v in obj.items() if k not in DROP}
    if isinstance(obj, list):
        return [_strip(v) for v in obj]
    return obj


def main() -> None:
    work = tempfile.mkdtemp(prefix="perfbench-eventlog-")
    log_dir = os.path.join(work, "log")
    os.makedirs(log_dir)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": "2",
        "spark.sql.adaptive.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")] + ["pyspark-shell"])
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    tracer = tracing.Tracer(True, spark.sparkContext)
    with tracer.span("write", "io"):
        spark.range(0, 1000, numPartitions=2).write.parquet(os.path.join(work, "out"))
    with tracer.span("parent", "bench"):
        spark.range(10).count()
        with tracer.span("aggregate", "operators"):
            spark.range(0, 1000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(5).collect()  # outside any span
    spark.stop()

    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(tracing.find_event_log(log_dir)) as src, \
            open(os.path.join(data, "eventlog_small.jsonl"), "w") as dst:
        for line in src:
            e = json.loads(line)
            if e["Event"].rsplit(".", 1)[-1] in KEEP:
                # the one path left (in the write command) is made relative
                dst.write(json.dumps(_strip(e), sort_keys=True).replace(work, "/work") + "\n")
    tracer.write(os.path.join(data, "spans_small.json"))
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
