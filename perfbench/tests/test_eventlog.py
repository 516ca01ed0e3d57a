"""The event-log fold on a small recorded log.

``data/eventlog_small.jsonl`` was recorded from Spark 4.1 (local[2]) by
running this file as a script (``python3 perfbench/tests/test_eventlog.py``):
one job under group ``call/a`` on the main thread, one shuffling job under
``call/b`` on a second thread, then one job with no group. Only the events
and fields the fold reads are kept.
"""

import json
import os

from eventlog import fold, merge, read_events, task_skew

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def _events():
    return list(read_events(LOG))


def _task_ends(events):
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd"]


def test_fold_by_group():
    events = _events()
    assert set(fold(events)) == {"call/a", "call/b"}  # untagged work is dropped by default
    groups = fold(events, lambda g, _ms: g or "untagged")
    assert [groups[g]["jobs"] for g in ("call/a", "call/b", "untagged")] == [1, 1, 1]
    # every task is counted exactly once
    assert sum(t["tasks"] for t in groups.values()) == len(_task_ends(events))
    total = merge(groups.values())
    metrics = [e["Task Metrics"] for e in _task_ends(events)]
    assert total["run_ms"] == sum(m["Executor Run Time"] for m in metrics)
    assert total["cpu_ns"] == sum(m["Executor CPU Time"] for m in metrics)
    # only the groupBy job shuffles
    assert groups["call/b"]["shuffle_write_bytes"] > 0
    assert groups["call/b"]["shuffle_read_bytes"] > 0
    assert groups["call/a"]["shuffle_write_bytes"] == 0
    assert groups["call/b"]["tasks"] == 2 + 3  # map side, then reduce side


def test_untagged_work_is_resolved_by_time():
    events = _events()
    (untagged_submit,) = [
        e["Submission Time"]
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and not (e.get("Properties") or {}).get("spark.jobGroup.id")
    ]

    def resolve(group, submit_ms):
        if group is None:
            return "late" if submit_ms >= untagged_submit else "early"
        return group

    groups = fold(events, resolve)
    assert "late" in groups and "early" not in groups and None not in groups
    assert fold(events, lambda g, _ms: None) == {}


def test_task_skew():
    assert task_skew(merge([])) == 0.0
    t = merge([])
    t["task_ms"] = [10, 10, 40]
    assert task_skew(t) == 4.0
    t["task_ms"] = [0, 0, 5]  # the median is floored at 1 ms
    assert task_skew(t) == 5.0


def _record() -> None:
    import shutil
    import tempfile
    import threading

    from pyspark.sql import SparkSession

    log_dir = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobGroup("call/a", "a")
    df = spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x")
    df.write.format("noop").mode("overwrite").save()

    def b():
        sc.setJobGroup("call/b", "b")
        df = spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count()
        df.write.format("noop").mode("overwrite").save()

    th = threading.Thread(target=b)
    th.start()
    th.join()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(0, 100, 1, 1).write.format("noop").mode("overwrite").save()
    spark.stop()

    (name,) = os.listdir(log_dir)
    keep = []
    for ev in read_events(os.path.join(log_dir, name)):
        kind = ev["Event"]
        props = {k: v for k, v in (ev.get("Properties") or {}).items() if k == "spark.jobGroup.id"}
        if kind == "SparkListenerJobStart":
            keep.append({
                "Event": kind,
                "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": props,
            })
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage = {k: info[k] for k in ("Stage ID", "Submission Time") if k in info}
            keep.append({"Event": kind, "Stage Info": stage, "Properties": props})
        elif kind == "SparkListenerTaskEnd":
            m = ev["Task Metrics"]
            keep.append({
                "Event": kind,
                "Stage ID": ev["Stage ID"],
                "Task Info": {k: ev["Task Info"][k] for k in ("Launch Time", "Finish Time")},
                "Task Metrics": {
                    k: m[k]
                    for k in (
                        "Executor Run Time",
                        "Executor CPU Time",
                        "JVM GC Time",
                        "Shuffle Read Metrics",
                        "Shuffle Write Metrics",
                        "Output Metrics",
                        "Disk Bytes Spilled",
                    )
                },
            })
    shutil.rmtree(log_dir)
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "w") as f:
        for ev in keep:
            f.write(json.dumps(ev) + "\n")


if __name__ == "__main__":
    _record()
