"""Spark event-log reader (standard library ``json`` only).

Reads the log of one application, either a single file ``<appId>`` or
a rolling directory ``eventlog_v2_<appId>/events_<n>_<appId>`` (Spark
4.1 layout), and folds ``TaskEnd`` metrics into per-job records. The
log must be uncompressed (``spark.eventLog.compress=false``), and the
application stopped, so that every event has been flushed.
"""

from __future__ import annotations

import json
import os
import re

COUNTERS = (
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_b",
    "shuffle_write_b",
    "spill_b",
    "input_b",
    "output_b",
)


def app_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of ``app_id`` in write order."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolling):
        def index(name: str) -> int:
            m = re.match(r"events_(\d+)_", name)
            return int(m.group(1)) if m else -1

        names = sorted((n for n in os.listdir(rolling) if n.startswith("events_")), key=index)
        return [os.path.join(rolling, n) for n in names]
    for name in (app_id, f"{app_id}.inprogress"):
        p = os.path.join(log_dir, name)
        if os.path.isfile(p):
            return [p]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def read_events(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _task_counters(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "tasks": 1,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "spill_b": tm.get("Disk Bytes Spilled", 0),
        "input_b": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_b": tm.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def jobs(events) -> dict[int, dict]:
    """Per job: its job group, submission time (epoch seconds) and the
    summed counters of every task its stages ran. A stage listed by
    several jobs (reused shuffle output) is charged to the first."""
    out: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            out[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_s": ev.get("Submission Time", 0) / 1e3,
                **{c: 0 for c in COUNTERS},
            }
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if jid is None or tm is None:
                continue
            rec = out[jid]
            for k, v in _task_counters(tm).items():
                rec[k] += v
    return out


def attribute(job_recs: dict[int, dict], spans, group_of) -> dict[int, list[int]]:
    """Map span id -> job ids. A job whose group names a span (via
    ``group_of(span)``) belongs to it. A job submitted from a thread
    without one of those groups (streaming micro-batches, writer
    thread pools) goes to the innermost span whose interval contains
    its submission time; jobs outside every span are dropped."""
    by_group = {group_of(s): s for s in spans}
    owned: dict[int, list[int]] = {s.sid: [] for s in spans}
    # innermost = latest start among the spans containing the instant
    ordered = sorted(spans, key=lambda s: s.start)
    for jid, rec in job_recs.items():
        span = by_group.get(rec["group"])
        if span is None:
            t = rec["submit_s"]
            inside = [s for s in ordered if s.start - 0.002 <= t <= s.end + 0.002]
            span = inside[-1] if inside else None
        if span is not None:
            owned[span.sid].append(jid)
    return owned
