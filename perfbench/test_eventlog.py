"""The event-log parser against a small committed log.

``testdata/small_eventlog.json`` is a trimmed uncompressed log of two
jobs on ``local[2]`` with 2 shuffle partitions, each under its own job
group: a ``groupBy().count()`` and a ``groupBy().applyInPandas()``,
both written to the noop sink.  It keeps the job and stage events and
one task-end line, which the parser must skip.

Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "small_eventlog.json")


def test_jobs_carry_their_groups_and_times():
    jobs, _ = eventlog.parse(LOG)
    assert [(j["job_id"], j["group"], j["result"]) for j in jobs] == [
        (0, "demo:agg:exec", "JobSucceeded"),
        (1, "demo:pandas:exec", "JobSucceeded"),
    ]
    assert all(j["end_ms"] > j["submit_ms"] > 0 for j in jobs)


def test_stage_rows():
    _, stages = eventlog.parse(LOG)
    assert [(s["stage_id"], s["job_id"], s["group"], s["tasks"]) for s in stages] == [
        (0, 0, "demo:agg:exec", 2),
        (1, 0, "demo:agg:exec", 2),
        (2, 1, "demo:pandas:exec", 2),
        (3, 1, "demo:pandas:exec", 2),
    ]
    # every shuffle byte written by a map stage is read by its reducer
    assert stages[0]["shuffle_write_bytes"] == stages[1]["shuffle_read_bytes"] == 364
    assert stages[2]["shuffle_write_bytes"] == stages[3]["shuffle_read_bytes"] == 11294
    assert stages[3]["run_ms"] == 8428 and stages[3]["cpu_ns"] == 929965037
    assert stages[0]["gc_ms"] == 130
    assert all(s["spill_disk_bytes"] == 0 for s in stages)


def test_python_worker_metrics_only_on_the_pandas_stage():
    _, stages = eventlog.parse(LOG)
    assert [s["python_ms"] for s in stages] == [0, 0, 0, 6250]
    assert [s["python_bytes"] for s in stages] == [0, 0, 0, 35304]
