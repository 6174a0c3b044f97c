"""Offline parser for a Spark event log (uncompressed, not rolled).

It reads jobs, stages and tasks, gives every stage the job group of the
first job that ran it, and sums stage metrics over any set of jobs.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

# physical operators that run Python code behind the Arrow boundary
PYTHON_NODES = re.compile(r"Pandas|Python|InArrow")


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)     # job id -> job dict
    stages: dict = field(default_factory=dict)   # stage id -> stage dict
    tasks: dict = field(default_factory=dict)    # stage id -> [task dict]
    # stage id -> id of its last RDD, for every stage a job lists; a
    # stage a job skipped shares it with the stage that ran its shuffle
    stage_rdd: dict = field(default_factory=dict)

    def stage_job(self) -> dict:
        """stage id -> id of the first job that ran it."""
        owner = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stage_ids"]:
                if sid in self.stages and sid not in owner:
                    owner[sid] = jid
        return owner

    def stage_groups(self) -> dict:
        """stage id -> job group of the job that ran it."""
        return {
            sid: self.jobs[jid]["group"]
            for sid, jid in self.stage_job().items()
        }

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list:
        return [
            j for j in self.jobs.values() if t0_ms <= j["submit"] <= t1_ms
        ]


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"],
                    "end": None,
                    "stage_ids": list(e["Stage IDs"]),
                }
                for si in e.get("Stage Infos", []):
                    ids = [r["RDD ID"] for r in si.get("RDD Info", [])]
                    if ids:
                        log.stage_rdd[si["Stage ID"]] = max(ids)
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                scopes = []
                for rdd in si.get("RDD Info", []):
                    if rdd.get("Scope"):
                        scopes.append(json.loads(rdd["Scope"])["name"])
                log.stages[si["Stage ID"]] = {
                    "id": si["Stage ID"],
                    "n_tasks": si["Number of Tasks"],
                    "parents": list(si.get("Parent IDs", [])),
                    "submit": si.get("Submission Time"),
                    "complete": si.get("Completion Time"),
                    "scopes": scopes,
                }
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                log.tasks.setdefault(e["Stage ID"], []).append({
                    "launch": info["Launch Time"],
                    "finish": info["Finish Time"],
                    "failed": bool(info.get("Failed")),
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return log


def is_python_stage(stage: dict) -> bool:
    return any(PYTHON_NODES.search(s) for s in stage["scopes"])


def task_skew(tasks: list) -> float:
    """max / median task duration of one stage (1.0 when even)."""
    durs = [t["finish"] - t["launch"] for t in tasks]
    if len(durs) < 2:
        return 1.0
    return max(durs) / max(statistics.median(durs), 1)


def summarize(log: EventLog, jobs: list, stage_filter=None) -> dict:
    """Engine metrics over the stages that `jobs` ran (optionally only
    those accepted by `stage_filter(stage)`)."""
    owner = log.stage_job()
    job_ids = {j["id"] for j in jobs}
    stages = [
        s for sid, s in log.stages.items()
        if owner.get(sid) in job_ids
        and (stage_filter is None or stage_filter(s))
    ]
    tasks = [t for s in stages for t in log.tasks.get(s["id"], [])]
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    py_s = sum(
        t["run_ms"] for s in stages if is_python_stage(s)
        for t in log.tasks.get(s["id"], [])
    ) / 1000.0
    heaviest = max(
        (s for s in stages if len(log.tasks.get(s["id"], [])) > 1),
        key=lambda s: sum(t["run_ms"] for t in log.tasks[s["id"]]),
        default=None,
    )
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_failures": sum(t["failed"] for t in tasks),
        "executor_run_s": run_s,
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "task_skew": task_skew(log.tasks[heaviest["id"]]) if heaviest else 1.0,
        "python_stage_run_s": py_s,
    }


def feeding_shuffle_write(log: EventLog, jobs: list, stage_filter) -> int:
    """Shuffle bytes written by the stages that feed the stages of
    `jobs` accepted by `stage_filter(stage)`: the exchange in front
    of them. Under adaptive execution the parent a stage names was
    skipped; its shuffle was written by the earlier stage that has the
    same last RDD."""
    owner = log.stage_job()
    job_ids = {j["id"] for j in jobs}
    parent_rdds = {
        log.stage_rdd.get(p) for sid, s in log.stages.items()
        if owner.get(sid) in job_ids and stage_filter(s)
        for p in s["parents"]
    }
    writers = {}
    for sid in sorted(log.stages):
        rdd = log.stage_rdd.get(sid)
        if rdd in parent_rdds and log.tasks.get(sid):
            writers.setdefault(rdd, sid)
    return sum(t["shuffle_write"] for sid in writers.values()
               for t in log.tasks[sid])


def busy_union_ms(tasks: list, t0: float, t1: float) -> float:
    """Milliseconds of [t0, t1] during which at least one task ran."""
    spans = sorted(
        (max(t["launch"], t0), min(t["finish"], t1)) for t in tasks
        if t["finish"] > t0 and t["launch"] < t1
    )
    busy, end = 0.0, t0
    for a, b in spans:
        if b <= end:
            continue
        busy += b - max(a, end)
        end = b
    return busy


def crawl_rounds(log: EventLog, jobs: list) -> list:
    """Per round of one crawl() call: (jobs, wall_s, gap_s). A round
    lasts from the end of the previous group's last job to the end of
    its own last job; its gap is the part of that time in which no task
    of the crawl ran."""
    by_group: dict = {}
    for j in jobs:
        g = j["group"] or ""
        m = re.match(r"crawl-([0-9a-f]+)-(prep|round-(\d+))$", g)
        if m:
            key = -1 if m.group(2) == "prep" else int(m.group(3))
            by_group.setdefault(key, []).append(j)
    owner = log.stage_job()
    job_ids = {j["id"] for j in jobs}
    tasks = [
        t for sid, ts in log.tasks.items() if owner.get(sid) in job_ids
        for t in ts
    ]
    out = []
    prev_end = None
    for key in sorted(by_group):
        grp = by_group[key]
        end = max(j["end"] or j["submit"] for j in grp)
        if key >= 0:
            start = prev_end if prev_end is not None else min(
                j["submit"] for j in grp
            )
            wall = end - start
            gap = wall - busy_union_ms(tasks, start, end)
            out.append({
                "round": key, "jobs": len(grp),
                "wall_s": wall / 1000.0, "gap_s": gap / 1000.0,
            })
        prev_end = end
    return out
