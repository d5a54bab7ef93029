"""Read a Spark event log and attribute its jobs, stages and tasks to labels.

The benchmark tags every call it makes with the local property
``perfbench.label``; jobs inherit it from the calling thread. Streaming
micro-batch jobs run on the stream's own thread and carry the
``sql.streaming.queryId`` property instead; the caller passes the map
from query id to label that its ``StreamingQueryListener`` recorded at
query start, and those jobs resolve through it.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

LABEL_KEY = "perfbench.label"
QUERY_ID_KEY = "sql.streaming.queryId"

MB = 1024.0 * 1024.0


def _new_totals() -> dict:
    return defaultdict(float)


def read_events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def attribute(log_dir: str, query_labels: dict[str, str]) -> dict:
    """label -> totals (jobs, stages, tasks, times in s, bytes in MB) plus
    ``intervals``: the [start, end] epoch-ms spans of the label's jobs."""
    job_label: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = defaultdict(_new_totals)
    intervals: dict[str, list] = defaultdict(list)
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            # a new application reuses job and stage ids
            job_label.clear()
            stage_job.clear()
            job_start.clear()
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            qid = props.get(QUERY_ID_KEY)
            label = query_labels.get(qid) if qid else None
            if label is not None:
                out[label]["stream_jobs"] += 1
            else:
                label = props.get(LABEL_KEY)
            if label is None:
                continue
            jid = ev["Job ID"]
            job_label[jid] = label
            job_start[jid] = ev["Submission Time"]
            out[label]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_label:
                intervals[job_label[jid]].append(
                    (job_start[jid], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            label = job_label.get(stage_job.get(info["Stage ID"]))
            if label is not None:
                out[label]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            label = job_label.get(stage_job.get(ev["Stage ID"]))
            if label is None:
                continue
            _add_task(out[label], ev)
    for label, spans in intervals.items():
        out[label]["intervals"] = sorted(spans)
    return out


def _add_task(t: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    t["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        t["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    ser_ms = m.get("Result Serialization Time", 0)
    got = info.get("Getting Result Time", 0)
    finish = info.get("Finish Time", 0)
    getting_ms = finish - got if got else 0
    total_ms = finish - info.get("Launch Time", finish)
    t["task_s"] += run_ms / 1000.0
    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    t["sched_delay_s"] += max(0, total_ms - run_ms - deser_ms - ser_ms - getting_ms) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    t["shuffle_records_read"] += sr.get("Total Records Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    t["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    inp = m.get("Input Metrics") or {}
    t["input_mb"] += inp.get("Bytes Read", 0) / MB
    t["input_records"] += inp.get("Records Read", 0)


def covered_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
