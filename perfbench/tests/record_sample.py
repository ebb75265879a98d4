"""Record the sample event log and spans the parser tests read.

    python3 perfbench/tests/record_sample.py

Runs a tiny traced session on ``local[2]``: a span that writes 2000 rows,
a span that reads them back through a filter and an aggregate (with a
nested plan-building span that runs no job), and a span whose job is
submitted from another Python thread. Writes ``data/sample_events.jsonl``
(the event types the parser reads, bulky plan text dropped, the scratch
path replaced by ``/sample``) and
``data/sample_spans.json`` next to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
}


def _slim(e: dict) -> dict:
    e.pop("physicalPlanDescription", None)
    e.pop("Stage Infos", None)
    e.pop("modifiedConfigs", None)
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items()
                           if k in ("spark.jobGroup.id", "spark.sql.execution.id")}
    if "Stage Info" in e:
        for k in ("RDD Info", "Details", "Stage Name"):
            e["Stage Info"].pop(k, None)
    return e


def main() -> int:
    from pyspark.sql import SparkSession

    from perfbench.trace import Tracer

    work = tempfile.mkdtemp(prefix="perfbench_sample_", dir=HERE)
    try:
        events = os.path.join(work, "events")
        os.makedirs(events)
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        tr = Tracer(True)
        tr.sc = spark.sparkContext
        tr.phase = "timed"
        table = os.path.join(work, "t")
        with tr.span("write"):
            spark.range(2000).selectExpr("id", "id % 7 AS k").write.parquet(table)
        with tr.span("query"):
            with tr.span("plan"):
                df = spark.read.schema("id long, k long").parquet(table).filter("k = 3")
            df.groupBy("k").count().collect()
        with tr.span("threaded"):
            t = threading.Thread(target=lambda: spark.range(100).count())
            t.start()
            t.join()
        spark.stop()
        (log,) = os.listdir(events)
        with open(os.path.join(events, log)) as fh:
            kept = [_slim(e) for e in map(json.loads, fh) if e["Event"] in KEEP]
        data = os.path.join(HERE, "data")
        os.makedirs(data, exist_ok=True)
        with open(os.path.join(data, "sample_events.jsonl"), "w") as fh:
            # plans name the scratch table; keep the machine's paths out
            fh.writelines(json.dumps(e).replace(work, "/sample") + "\n" for e in kept)
        tr.dump(os.path.join(data, "sample_spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
