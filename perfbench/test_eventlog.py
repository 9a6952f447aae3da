"""Self-test of the event-log parser against a saved fragment.

    python3 -m pytest perfbench/test_eventlog.py -q

``testdata/eventlog_fragment.jsonl`` is cut from a real Spark 4.1 event
log (local[2]): job group ``g-shuffle`` ran one aggregation with a
shuffle, ``g-python`` one ``mapInArrow`` pass through the Python workers,
and one job ran without a group. Only the job, stage and task events are
kept, with the per-task accumulable lists dropped.
"""

from __future__ import annotations

import json
import os

from perfbench.eventlog import parse, union_ms

FRAGMENT = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_fragment.jsonl")


def _events():
    with open(FRAGMENT, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def test_union_ms_merges_overlaps_and_keeps_gaps():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(20, 25), (0, 10), (10, 12)]) == 17


def test_groups_jobs_and_tasks_match_the_raw_events():
    groups = parse(FRAGMENT)
    assert set(groups) == {"g-shuffle", "g-python", ""}
    evs = _events()
    jobs_by_group: dict[str, int] = {}
    stage_group = {}
    for e in evs:
        if e["Event"] == "SparkListenerJobStart":
            gid = e["Properties"].get("spark.jobGroup.id") or ""
            jobs_by_group[gid] = jobs_by_group.get(gid, 0) + 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, gid)
    tasks_by_group: dict[str, int] = {}
    for e in evs:
        if e["Event"] == "SparkListenerTaskEnd":
            gid = stage_group[e["Stage ID"]]
            tasks_by_group[gid] = tasks_by_group.get(gid, 0) + 1
    for gid, g in groups.items():
        assert g.jobs == jobs_by_group.get(gid, 0)
        assert g.tasks == tasks_by_group.get(gid, 0)


def test_layer_counters_land_in_the_right_group():
    groups = parse(FRAGMENT)
    shuffle, python = groups["g-shuffle"], groups["g-python"]
    # the aggregation shuffles; the Python pass ships rows to the workers
    assert shuffle.shuffle_write_bytes > 0
    assert shuffle.python_bytes == 0
    assert python.python_bytes > 0
    for g in groups.values():
        assert g.scheduler_delay_ms >= 0
        assert g.cpu_ms > 0
        # stage intervals can overlap, never exceed their sum
        assert 0 < g.stage_active_ms() <= sum(e - s for s, e in g.stage_intervals)
