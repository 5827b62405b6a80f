"""Per-layer metrics of one ``run_extract_job`` call, from Spark's event log.

The job's Spark work is attributed to layers through each SQL execution's
physical plan, which names the directory a write goes to:

==================  ==================================================
layer               SQL executions (and the jobs inside them)
==================  ==================================================
udf_stage_s         the ``rollup/`` write, up to the end of its last
                    stage that runs ``ArrowEvalPython`` (scan, kind
                    classify, salt shuffle, dispatch UDF)
rollup_write_s      the rest of the ``rollup/`` write (part_id shuffle,
                    sort, file write, partition-overwrite commit)
spans_write_s       the ``spans/`` write (rollup re-read, span derive)
manifest_commit_s   the ``_manifest/`` append, and manifest reads
stats_s             every other execution (the per-bucket stats collect)
driver_gap_s        wall time covered by no SQL execution or job
==================  ==================================================

A Spark job outside any SQL execution (parquet schema inference on
``spark.read``) belongs to the layer of the next execution, which reads
what it inferred. Intervals are clipped to the measured window, so the
six layers sum to the job's wall time.
"""

from __future__ import annotations

import json
import os
import re
import statistics

LAYERS = ("udf_stage_s", "rollup_write_s", "spans_write_s", "stats_s",
          "manifest_commit_s", "driver_gap_s")
_WRITE_PATH = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:Input: .*\n)?Arguments: ([^,\s]+)")
_WRITE_LAYER = {"rollup": "rollup_write_s", "spans": "spans_write_s",
                "_manifest": "manifest_commit_s"}


def event_conf(log_dir: str) -> dict:
    """``extra_conf`` that makes a session write an uncompressed, single-file
    event log under ``log_dir``."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def read_events(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _skew(durations: list[int]) -> float:
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def _layer_of_plan(plan: str) -> str:
    m = _WRITE_PATH.search(plan)
    if m:
        return _WRITE_LAYER.get(os.path.basename(m.group(1).rstrip("/")), "stats_s")
    return "manifest_commit_s" if "/_manifest" in plan else "stats_s"


def job_metrics(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Every ``extract_job.*`` metric for the job that ran in [t0_ms, t1_ms]
    (epoch milliseconds, taken around the ``run_extract_job`` call)."""
    def inside(t):
        return t0_ms <= t <= t1_ms

    def clip(a, b):
        return max(a, t0_ms), min(b, t1_ms)

    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") and inside(e["time"]):
            execs[e["executionId"]] = dict(start=e["time"], end=t1_ms,
                                           layer=_layer_of_plan(e["physicalPlanDescription"]))
        elif kind.endswith("SQLExecutionEnd") and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            sql_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = dict(start=e["Submission Time"], end=t1_ms,
                                     sql=int(sql_id) if sql_id is not None else None)
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_job and "Submission Time" in info:
                stages[info["Stage ID"]] = dict(
                    end=info["Completion Time"],
                    udf=any("ArrowEvalPython" in (r.get("Scope") or "")
                            for r in info["RDD Info"]),
                    write=any("WriteFiles" in (r.get("Scope") or "")
                              for r in info["RDD Info"]))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks.setdefault(e["Stage ID"], []).append(e)

    # Jobs outside a SQL execution go to the next execution's layer.
    starts = sorted((x["start"], x["layer"]) for x in execs.values())
    intervals: dict[str, list] = {layer: [] for layer in LAYERS}
    for job in jobs.values():
        if job["sql"] is None or job["sql"] not in execs:
            layer = next((lay for s, lay in starts if s >= job["start"]),
                         "manifest_commit_s")
            intervals[layer].append(clip(job["start"], job["end"]))
    udf_end = {}
    for sid, st in stages.items():
        sql = jobs[stage_job[sid]]["sql"]
        if st["udf"] and sql in execs and execs[sql]["layer"] == "rollup_write_s":
            udf_end[sql] = max(udf_end.get(sql, 0), st["end"])
    for sql, x in execs.items():
        a, b = clip(x["start"], x["end"])
        if sql in udf_end:
            cut = min(max(udf_end[sql], a), b)
            intervals["udf_stage_s"].append((a, cut))
            a = cut
        intervals[x["layer"]].append((a, b))

    wall_s = (t1_ms - t0_ms) / 1000.0
    out = {layer: _union_s(iv) for layer, iv in intervals.items()}
    out["driver_gap_s"] = wall_s - _union_s([iv for ivs in intervals.values() for iv in ivs])
    out["wall_s"] = wall_s

    all_tasks = [t for ts in tasks.values() for t in ts]
    metrics = [t.get("Task Metrics") or {} for t in all_tasks]

    def acc(name):
        return sum(int(a.get("Update", 0)) for t in all_tasks
                   for a in t["Task Info"].get("Accumulables", []) if a.get("Name") == name)

    out.update(
        shuffle_write_bytes=sum(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                                for m in metrics),
        spill_bytes=sum(m.get("Disk Bytes Spilled", 0) for m in metrics),
        gc_s=sum(m.get("JVM GC Time", 0) for m in metrics) / 1000.0,
        executor_cpu_s=sum(m.get("Executor CPU Time", 0) for m in metrics) / 1e9,
        arrow_bytes_to_python=acc("data sent to Python workers"),
        arrow_bytes_from_python=acc("data returned from Python workers"),
        tasks=len(all_tasks),
    )

    def stage_skew(pred) -> float:
        skews = [_skew([t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                        for t in tasks[sid]])
                 for sid, st in stages.items() if pred(sid, st) and len(tasks.get(sid, ())) > 1]
        return max(skews, default=1.0)

    def rollup_stage(sid):
        sql = jobs[stage_job[sid]]["sql"]
        return sql in execs and execs[sql]["layer"] == "rollup_write_s"

    out["udf_task_skew"] = stage_skew(lambda sid, st: st["udf"])
    out["write_task_skew"] = stage_skew(lambda sid, st: st["write"] and rollup_stage(sid))
    return out
