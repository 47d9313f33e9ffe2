"""Record the small event log the parser tests read.

    python3 perfbench/tests/record_sample.py   # from the root of a checkout

Runs one traced ``FrontierStore.add_requests`` of ``N_URLS`` URLs (half of
them repeated) on ``local[2]``, then writes ``data/sample_events.jsonl``
(only the event kinds ``eventlog.parse`` reads, with bulky fields dropped
and the scratch directory under ``.perfbench_work/`` replaced by
``/work``) and ``data/sample_spans.json`` (the spans plus facts the tests
check against: the URLs offered, the distinct URLs, and the bytes the
snapshot occupies on disk).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.getcwd()]

N_URLS = 600
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart": ("executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate": ("executionId", "sparkPlanInfo"),
}
PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def _trim(e: dict) -> dict:
    out = {"Event": e["Event"]}
    for k in KEEP[e["Event"]]:
        v = e[k]
        if k == "Properties":
            v = {p: v[p] for p in PROPS if p in v}
        elif k == "Stage Info":
            v = {"Stage ID": v["Stage ID"]}
        elif k == "Task Info":
            v = {"Accumulables": [a for a in v.get("Accumulables", []) if a.get("Metadata") == "sql"]}
        out[k] = v
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from crawlee_spark.operators.frontier import FrontierStore
    from crawlee_spark.session import get_spark

    import eventlog
    from tracing import Tracer

    os.makedirs(".perfbench_work", exist_ok=True)
    work = tempfile.mkdtemp(prefix="sample-", dir=os.path.abspath(".perfbench_work"))
    try:
        ev_dir = os.path.join(work, "ev")
        os.makedirs(ev_dir)
        spark = get_spark(
            "perfbench-sample",
            master="local[2]",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev_dir,
                "spark.eventLog.compress": "false",
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        urls = spark.range(N_URLS).select(
            F.concat(F.lit("https://h"), (F.col("id") % 3).cast("string"), F.lit(".example.org/p"),
                     (F.col("id") % (N_URLS // 2)).cast("string")).alias("url")
        )
        store = FrontierStore(spark, os.path.join(work, "frontier"), num_partitions=4)
        tracer = Tracer(spark, "sample")
        tracer.install()
        try:
            with tracer.span("bench.timed"):
                store.add_requests(urls)
        finally:
            tracer.uninstall()
        snap = os.path.join(store.root, "snapshots")
        snap_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(snap) for f in fs if f.endswith(".parquet")
        )
        spark.stop()
        with open(os.path.join(HERE, "data", "sample_events.jsonl"), "w") as out:
            for path in eventlog.find_log(ev_dir):
                with open(path) as f:
                    for line in f:
                        e = json.loads(line)
                        if e.get("Event") in KEEP:
                            out.write(json.dumps(_trim(e)).replace(work, "/work") + "\n")
        with open(os.path.join(HERE, "data", "sample_spans.json"), "w") as out:
            json.dump(
                {
                    "spans": [vars(s) for s in tracer.spans],
                    "facts": {"offered": N_URLS, "distinct": N_URLS // 2, "snapshot_bytes": snap_bytes},
                },
                out,
                indent=1,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(".perfbench_work"):
            os.rmdir(".perfbench_work")


if __name__ == "__main__":
    main()
