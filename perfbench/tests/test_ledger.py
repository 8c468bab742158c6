"""The event-log parser and span attribution, over a committed fixture:
the job, stage and task events of a small real Spark 4.1 application
(field subset kept), with one job group ``g1``."""

import json
import os

import pytest

import ledger

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def lines():
    with open(FIXTURE) as f:
        return f.readlines()


def test_parse_totals_and_jobs():
    p = ledger.parse_event_log(lines())
    assert p["totals"]["jobs"] == 10
    assert p["totals"]["tasks"] == 10
    assert p["totals"]["cpu_ns"] == 737692642
    assert p["totals"]["gc_ms"] == 55
    assert p["totals"]["shuffle_write_bytes"] == 491
    assert p["totals"]["failed_tasks"] == 0
    groups = [j["group"] for _, j in sorted(p["jobs"].items())]
    assert groups == [None] * 3 + ["g1"] * 7
    job4 = p["jobs"][4]
    assert (job4["submit_ms"], job4["end_ms"]) == (1792200700992, 1792200701468)
    assert job4["cpu_ns"] == 355535723 and job4["shuffle_write_bytes"] == 216
    # every task lands in exactly one job
    assert sum(j.get("tasks", 0) for j in p["jobs"].values()) == 10


def test_failed_attempt_counts_as_retry():
    failed = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 4,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "ExceptionFailure"},
        "Task Info": {"Task ID": 99, "Attempt": 0, "Failed": True},
        "Task Metrics": {"Executor CPU Time": 5},
    }
    p = ledger.parse_event_log(lines() + [json.dumps(failed) + "\n"])
    assert p["totals"]["failed_tasks"] == 1
    assert p["jobs"][3]["failed_tasks"] == 1


def _span(group, start, end):
    return {"module": "m", "op": "o", "group": group, "start_ms": start, "end_ms": end, "s": (end - start) / 1000.0}


def test_attribute_by_group_then_by_interval():
    jobs = ledger.parse_event_log(lines())["jobs"]
    tagged = _span("g1", 1792200699300, 1792200703000)
    # an untagged span around the three group-less jobs (the set-up
    # read), as for jobs a streaming thread starts
    untagged = _span(None, 1792200698700, 1792200699200)
    idle = _span("other", 1792200703000, 1792200704000)
    ledger.attribute([tagged, untagged, idle], jobs)
    assert tagged["jobs"] == [3, 4, 5, 6, 7, 8, 9]
    assert untagged["jobs"] == [0, 1, 2]
    assert idle["jobs"] == [] and idle["driver_only_s"] == pytest.approx(1.0)
    busy_ms = sum(jobs[j]["end_ms"] - jobs[j]["submit_ms"] for j in tagged["jobs"])
    assert tagged["driver_only_s"] == pytest.approx(tagged["s"] - busy_ms / 1000.0)
    assert tagged["cpu_ns"] == sum(jobs[j]["cpu_ns"] for j in tagged["jobs"])


def test_union_merges_overlaps():
    assert ledger._union_ms([(0, 10), (5, 20), (30, 40), (35, 36)]) == 30


def test_spans_stay_in_memory_until_dump(tmp_path):
    led = ledger.Ledger()
    with led.span("m", "a"):
        pass
    with led.span("m", "b"):
        pass
    assert [s["op"] for s in led.spans] == ["a", "b"]
    assert not any(tmp_path.iterdir())
    led.dump(str(tmp_path / "ledger.json"))
    assert [s["op"] for s in json.loads((tmp_path / "ledger.json").read_text())] == ["a", "b"]
