"""Records tests/data/tiny_eventlog.jsonl and tiny_spans.json: a two-span
traced session on local[2], kept to the events and fields the parser reads.

    python3 rlbench/tests/record_eventlog.py
"""

import json
import shutil
import sys
import tempfile
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from tracing import PY_ACCUMULABLES, Tracer, find_log, read_events  # noqa: E402

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageSubmitted", "SparkListenerTaskEnd"}
PROPS = ("spark.jobGroup.id", "spark.job.description")


def trim(e: dict) -> dict:
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k in PROPS}
    if "Stage Info" in e:
        e["Stage Info"] = {k: e["Stage Info"][k] for k in
                           ("Stage ID", "Stage Attempt ID", "Submission Time")}
    if "Task Info" in e:
        info = e["Task Info"]
        info["Accumulables"] = [a for a in info.get("Accumulables", [])
                                if a.get("Name") in PY_ACCUMULABLES]
    e.pop("Task Executor Metrics", None)
    e.pop("Stage Infos", None)
    return e


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logs = Path(tempfile.mkdtemp())
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(logs))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    plus = F.pandas_udf(lambda s: s + 1, "long")
    tracer = Tracer(spark.sparkContext)
    spark.range(10).count()  # outside every span
    with tracer.span("a"):
        spark.range(100, numPartitions=2).select(plus("id").alias("x")) \
            .groupBy((F.col("x") % 3).alias("k")).count().collect()
    with tracer.span("b"):
        # a job from a thread the span did not tag: charged by time
        t = threading.Thread(target=lambda: spark.range(50, numPartitions=2)
                             .mapInPandas(lambda it: it, "id long").count())
        t.start()
        t.join()
    spark.stop()
    events = [e for e in read_events(find_log(logs)) if e["Event"] in KEEP]
    with (HERE / "data" / "tiny_eventlog.jsonl").open("w") as fh:
        for e in events:
            fh.write(json.dumps(trim(e)) + "\n")
    spans = [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
             for s in tracer.spans]
    (HERE / "data" / "tiny_spans.json").write_text(json.dumps(spans, indent=1) + "\n")
    shutil.rmtree(logs)


if __name__ == "__main__":
    main()
