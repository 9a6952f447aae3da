"""Spark event-log accounting, grouped by job group.

The traced benchmark run tags every operation's Spark jobs with
``setJobGroup(op_id)`` and enables the event log. ``parse`` folds the log
into one ``GroupStats`` per job group: jobs, tasks, GC, scheduler delay,
the union of stage-active intervals (what the driver's per-job floor is
measured against), shuffle traffic, Python-worker bytes and task I/O.

Usage: ``python3 perfbench/eventlog.py <event-log-file>`` prints the
per-group totals as JSON.
"""

from __future__ import annotations

import json
import sys
from dataclasses import asdict, dataclass, field

#: SQL metrics of the Python-worker boundary (ArrowEvalPython, MapInArrow,
#: Python data source scans/writes), as their display names appear in
#: stage accumulables
PYTHON_BYTE_METRICS = frozenset(
    {"data sent to Python workers", "data returned from Python workers"}
)


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    gc_ms: float = 0.0
    scheduler_delay_ms: float = 0.0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_ms: float = 0.0
    python_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    input_tasks: int = 0
    input_cpu_ms: float = 0.0
    output_bytes: int = 0
    output_tasks: int = 0
    output_cpu_ms: float = 0.0
    #: [submission, completion] epoch-ms of every stage that ran
    stage_intervals: list = field(default_factory=list)

    def stage_active_ms(self) -> float:
        return union_ms(self.stage_intervals)


def union_ms(intervals) -> float:
    """Length of the union of closed intervals [(start, end), ...]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _scheduler_delay(info: dict, m: dict) -> float:
    """The Spark UI's per-task scheduler delay: task duration minus the
    parts the executor accounts for."""
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_result = finish - getting if getting else 0
    delay = (
        (finish - launch)
        - m.get("Executor Run Time", 0)
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - fetch_result
    )
    return max(0.0, float(delay))


def parse_lines(lines) -> dict[str, GroupStats]:
    """Fold event-log JSON lines into per-job-group stats. Jobs without a
    group are keyed by the empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            g = groups.setdefault(gid, GroupStats())
            g.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            gid = stage_group.get(info["Stage ID"], "")
            g = groups.setdefault(gid, GroupStats())
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                g.stage_intervals.append((sub, done))
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PYTHON_BYTE_METRICS:
                    g.python_bytes += int(float(acc.get("Value", 0)))
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"), "")
            g = groups.setdefault(gid, GroupStats())
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.gc_ms += m.get("JVM GC Time", 0)
            g.run_ms += m.get("Executor Run Time", 0)
            cpu_ms = m.get("Executor CPU Time", 0) / 1e6
            g.cpu_ms += cpu_ms
            g.scheduler_delay_ms += _scheduler_delay(ev.get("Task Info") or {}, m)
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            im = m.get("Input Metrics") or {}
            if im.get("Records Read", 0) or im.get("Bytes Read", 0):
                g.input_tasks += 1
                g.input_bytes += im.get("Bytes Read", 0)
                g.input_records += im.get("Records Read", 0)
                g.input_cpu_ms += cpu_ms
            om = m.get("Output Metrics") or {}
            if om.get("Records Written", 0) or om.get("Bytes Written", 0):
                g.output_tasks += 1
                g.output_bytes += om.get("Bytes Written", 0)
                g.output_cpu_ms += cpu_ms
    return groups


def parse(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


if __name__ == "__main__":
    out = {}
    for gid, g in parse(sys.argv[1]).items():
        d = asdict(g)
        d["stage_active_ms"] = g.stage_active_ms()
        del d["stage_intervals"]
        out[gid] = d
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()
