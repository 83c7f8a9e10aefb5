"""Event-log join and self-time arithmetic, on a hand-written event log.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import PY_RETURNED, PY_SENT, Span, Tracer, parse_event_log, span_stats, union_ms  # noqa: E402


def _job(jid, group, submit, complete, stages):
    props = {"spark.app.id": "local-1"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": submit, "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": complete, "Job Result": {"Result": "JobSucceeded"}},
    ]


def _stage(sid, submit, complete):
    info = {"Stage ID": sid, "Stage Attempt ID": 0, "Accumulables": []}
    if submit is not None:
        info.update({"Submission Time": submit, "Completion Time": complete})
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


def _task(sid, cpu_ns=0, write=0, remote=0, local=0, sent=0, returned=0,
          reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [
            {"ID": 1, "Name": PY_SENT, "Update": sent, "Value": 0},
            {"ID": 2, "Name": PY_RETURNED, "Update": returned, "Value": 0},
        ]},
        "Task Metrics": {
            "Executor Run Time": 10, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                     "Local Bytes Read": local},
        },
    }


def _log():
    events = []
    # span s0 = [1000, 2000] ms; child span s2 = [1410, 1490]
    events += _job(0, "s0", 1100, 1400, [0, 1])
    events += _job(1, "s0", 1500, 1900, [1, 2])   # stage 1 reused: skipped
    events += _job(2, None, 1950, 1990, [3])      # unlabelled: not s0's
    events += _job(3, "s1", 1200, 1300, [4])      # another span's job
    events += _job(4, "s2", 1420, 1480, [5])      # child span's job
    events += [
        _stage(0, 1100, 1250),                    # scan: no shuffle
        _stage(1, 1240, 1400),                    # map: writes shuffle
        _stage(2, 1500, 1900),                    # reduce: reads shuffle
        _stage(3, 1950, 1990), _stage(4, 1200, 1300),
        _stage(5, 1420, 1480),                    # scan (child span)
        _task(0, cpu_ns=1e9, sent=100), _task(0, cpu_ns=1e9, sent=100),
        _task(1, write=500, returned=70),
        _task(2, remote=200, local=300),
        _task(2, remote=1, reason="ExceptionFailure"),
        _task(3, cpu_ns=5e9), _task(4, cpu_ns=5e9), _task(5, cpu_ns=2e9),
    ]
    return parse_event_log([json.dumps(e) + "\n" for e in events] + ["\n"])


def _spans():
    return [Span("s0", "encode.encode_table", None, 1000.0, 2000.0),
            Span("s1", "decode.decode_table", None, 1250.0, 1350.0),
            Span("s2", "sources.datasource.load", "s0", 1410.0, 1490.0)]


def test_union_ms_merges_overlaps_and_clips():
    assert union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert union_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert union_ms([(10, 10), (50, 40), (1, None)], 0, 100) == 0
    assert union_ms([], 0, 100) == 0


def test_job_group_maps_jobs_to_span_and_its_children():
    log = _log()
    assert log.jobs[0].group == "s0" and log.jobs[2].group is None
    st = span_stats(_spans()[0], _spans(), log)
    assert st["jobs"] == 3                      # jobs 0, 1 and child's 4
    assert st["tasks"] == 6                     # stages 0, 1, 2, 5 only
    assert st["failed_tasks"] == 1
    assert st["cpu_s"] == 4.0                   # 1 + 1 + 2 (child), not 5s
    assert st["py_sent_bytes"] == 200
    assert st["py_returned_bytes"] == 70
    assert st["shuffle_write_bytes"] == 500


def test_stage_split_scan_map_reduce():
    st = span_stats(_spans()[0], _spans(), _log())
    assert st["scan_stage_ms"] == 150 + 60      # stage 0 + child's stage 5
    assert st["map_stage_ms"] == 160
    assert st["reduce_stage_ms"] == 400


def test_driver_time_is_span_minus_union_of_job_intervals():
    spans = _spans()
    st = span_stats(spans[0], spans, _log())
    # 1000 ms span; jobs cover [1100,1400] + [1420,1480] + [1500,1900]
    assert st["driver_ms"] == 1000 - 300 - 60 - 400
    # a job that starts before its span opens is clipped to the span
    st1 = span_stats(spans[1], spans, _log())
    assert st1["jobs"] == 1 and st1["driver_ms"] == 100 - 50


def test_tracer_sets_and_restores_job_group():
    class FakeSc:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, gid, desc):
            self.calls.append(("group", gid, desc))

        def setLocalProperty(self, key, value):
            self.calls.append(("prop", key, value))

    sc = FakeSc()
    tr = Tracer(sc)
    with tr.span("encode.encode_table") as outer:
        with tr.span("sources.datasource.load") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.end_ms >= inner.end_ms >= inner.start_ms >= outer.start_ms
    assert sc.calls[0] == ("group", outer.id, "encode.encode_table")
    assert sc.calls[1] == ("group", inner.id, "sources.datasource.load")
    assert sc.calls[2] == ("group", outer.id, "encode.encode_table")
    assert ("prop", "spark.jobGroup.id", None) in sc.calls[3:]
