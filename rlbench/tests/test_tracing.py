import json
from pathlib import Path

import pytest

from tracing import (LogSummary, Span, attribute, covered, read_events,
                     self_time, summarize)

DATA = Path(__file__).resolve().parent / "data"


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5  # [1,5] + [7,8]
    assert covered(2, 6, [(0, 3), (5, 9)]) == 2  # clipped to [2,3] + [5,6]
    assert covered(0, 10, [(11, 12), (-3, -1)]) == 0
    assert covered(0, 10, [(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_only_direct_children():
    spans = [Span("root", 0.0, 10.0),
             Span("a", 1.0, 4.0, parent=0),
             Span("b", 3.0, 6.0, parent=0),  # overlaps a: union is [1, 6]
             Span("a.inner", 1.5, 2.0, parent=1)]
    assert self_time(spans, 0) == pytest.approx(5.0)
    assert self_time(spans, 1) == pytest.approx(2.5)
    assert self_time(spans, 3) == pytest.approx(0.5)


def test_job_group_wins_over_time_and_untagged_work_goes_innermost():
    spans = [Span("p", 0.0, 10.0), Span("c", 2.0, 5.0, parent=0)]
    log = LogSummary(
        jobs=[{"group": "p", "submit": 3.0, "end": 4.0},   # tagged by the parent
              {"group": None, "submit": 4.5, "end": 6.0},  # untagged, inside c
              {"group": None, "submit": 11.0, "end": 12.0}],  # outside every span
        stages=[{"group": "p", "submit": 3.0, "task_run_s": 1.0},
                {"group": None, "submit": 4.5, "task_run_s": 2.0}],
    )
    out = attribute(spans, log)
    assert (out["p"]["jobs"], out["c"]["jobs"]) == (1, 1)
    assert (out["p"]["task_run_s"], out["c"]["task_run_s"]) == (1.0, 2.0)
    # gaps count every running job, whoever it is charged to:
    # p is covered over [3, 4] + [4.5, 6] of [0, 10]; c over [3, 4] + [4.5, 5] of [2, 5]
    assert out["p"]["driver_gap_s"] == pytest.approx(7.5)
    assert out["c"]["driver_gap_s"] == pytest.approx(1.5)


def test_recorded_event_log():
    """tiny_eventlog.jsonl comes from record_eventlog.py: one job outside
    any span, span 'a' (pandas UDF then an aggregation, tagged), span 'b'
    (mapInPandas launched from a thread, so untagged)."""
    spans = [Span(s["name"], s["start"], s["end"], s["parent"])
             for s in json.loads((DATA / "tiny_spans.json").read_text())]
    log = summarize(read_events(DATA / "tiny_eventlog.jsonl"))
    assert len(log.jobs) == 3
    assert [j["group"] for j in log.jobs].count(None) == 2
    out = attribute(spans, log)
    a, b = out["a"], out["b"]
    assert (a["jobs"], b["jobs"]) == (1, 1)
    for c in (a, b):
        assert c["task_failures"] == 0
        assert c["task_run_s"] > 0 and c["task_cpu_s"] > 0
        assert c["py_run_s"] > 0 and c["py_bytes"] > 0
        assert 0 <= c["driver_gap_s"] <= c["wall_s"]
    assert a["shuffle_bytes"] > 0 and b["shuffle_bytes"] > 0  # both aggregate
