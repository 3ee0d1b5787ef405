"""The event-log parser against a canned two-application log
(``testdata/eventlog``). Run with ``python3 -m pytest perfbench``."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from eventlog import Spans, read_eventlogs, span_table, window_totals  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog")
SPANS = [
    # two grouped jobs: [1000.0, 1000.5] and [1000.6, 1001.0]
    {"name": "x", "group": "g-a", "start": 999.9, "end": 1001.2, "wall_s": 1.3},
    # no jobs of its own; the ungrouped job [1002.0, 1002.2] runs inside it
    {"name": "x", "group": "g-b", "start": 1001.9, "end": 1002.4, "wall_s": 0.5},
    # second application reuses stage id 0
    {"name": "y", "group": "g-c", "start": 1004.9, "end": 1005.2, "wall_s": 0.3},
]


def test_jobs_carry_group_interval_and_task_totals():
    jobs = read_eventlogs(LOG)
    assert [j["group"] for j in jobs] == ["g-a", "g-a", None, "g-c"]
    first = jobs[0]
    assert (first["start"], first["end"]) == (1000000.0, 1000000.5)
    assert first["task_s"] == pytest.approx(0.5)
    assert first["max_task_s"] == pytest.approx(0.3)
    assert first["shuffle_write_mb"] == pytest.approx(1.0)
    assert first["input_mb"] == pytest.approx(2.0)
    assert jobs[1]["spill_mb"] == pytest.approx(1.0)  # memory + disk
    assert jobs[3]["task_s"] == pytest.approx(0.05)  # its own stage 0, not app 1's


def test_span_table_medians_and_driver_time():
    jobs = read_eventlogs(LOG)
    for j in jobs:  # the canned log is in ms since 1e9 ms; spans in s since 1e3 s
        j["start"] -= 999000.0
        j["end"] -= 999000.0
    table = span_table(SPANS, jobs)
    x = table["x"]
    assert x["calls"] == 2
    # call 1: 1.3 s wall, 0.9 s under jobs; call 2: 0.5 s wall, 0.2 s under the loose job
    assert x["wall_s"] == pytest.approx(0.9)
    assert x["driver_s"] == pytest.approx((0.4 + 0.3) / 2)
    assert x["jobs"] == 1
    assert x["task_s"] == pytest.approx(0.45)
    assert x["max_task_s"] == pytest.approx(0.2)
    assert table["y"]["jobs"] == 1 and table["y"]["driver_s"] == pytest.approx(0.2)


def test_window_totals_count_unattributed_jobs():
    jobs = read_eventlogs(LOG)
    totals = window_totals(jobs, 1000000.0, 1000003.0)
    assert totals["jobs"] == 3
    assert totals["unattributed_jobs"] == 1
    assert totals["unattributed_task_s"] == pytest.approx(0.1)
    assert totals["shuffle_write_mb"] == pytest.approx(1.0)
    assert totals["spill_mb"] == pytest.approx(1.0)


def test_spans_name_the_call_that_raised():
    spans = Spans()
    with spans("ok"):
        pass
    assert spans.raised is None
    with pytest.raises(ValueError), spans("bad"):
        raise ValueError
    assert spans.raised == "bad" and [r["name"] for r in spans.records] == ["ok", "bad"]
    with spans("ok"):
        pass
    assert spans.raised is None
