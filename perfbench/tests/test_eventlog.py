"""The event-log fold on a small recorded log.

``data/eventlog_small.jsonl`` was written by Spark 4.1 (local[2],
AQE off, two shuffle partitions, uncompressed log) for three jobs and
then cut down to the events and fields the fold reads:

- group ``scan``: a 3-partition range written to the noop sink
  (one job, one stage, three tasks, no shuffle);
- group ``shuffle``: the same range grouped by ``id % 5`` (one job, a
  3-task map stage and a 2-task reduce stage);
- no group: a 1-partition ``collect()``.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from eventlog import fold, fold_file  # noqa: E402

LOG = HERE / "data" / "eventlog_small.jsonl"


def test_groups_jobs_stages_tasks():
    g = fold_file(str(LOG))
    assert set(g) == {"scan", "shuffle", None}
    assert (g["scan"].jobs, g["scan"].stages, g["scan"].tasks) == (1, 1, 3)
    assert (g["shuffle"].jobs, g["shuffle"].stages, g["shuffle"].tasks) == (1, 2, 5)
    assert (g[None].jobs, g[None].stages, g[None].tasks) == (1, 1, 1)


def test_shuffle_bytes_only_where_shuffled():
    g = fold_file(str(LOG))
    assert g["scan"].shuffle_write_bytes == g["scan"].shuffle_read_bytes == 0
    # a local run reads back exactly what the map side wrote
    assert g["shuffle"].shuffle_write_bytes > 0
    assert g["shuffle"].shuffle_read_bytes == g["shuffle"].shuffle_write_bytes


def test_task_times_match_the_log():
    events = [json.loads(line) for line in LOG.read_text().splitlines()]
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    g = fold_file(str(LOG))
    total_run = sum(t.run_ms for t in g.values())
    assert total_run == sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    assert total_run > 0
    for t in g.values():
        # CPU time is part of run time (ns in the log, ms after the fold)
        assert 0 < t.cpu_ms <= t.run_ms + 1
        assert t.busy_ms > 0


def _ev(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def test_busy_time_counts_overlapping_stages_once():
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1, 2],
                                        "Properties": {"spark.jobGroup.id": "g"}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 0, "Submission Time": 0, "Completion Time": 10}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 1, "Submission Time": 5, "Completion Time": 20}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 2, "Submission Time": 30, "Completion Time": 35}}),
    ]
    g = fold(lines)["g"]
    assert g.stages == 3
    assert g.busy_ms == 25.0


def test_unknown_events_and_tasks_without_metrics():
    lines = [
        _ev("SparkListenerApplicationStart", **{"App Name": "x"}),
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [7], "Properties": {}}),
        # a failed task may carry no metrics: counted, adds no time
        _ev("SparkListenerTaskEnd", **{"Stage ID": 7}),
        "",
    ]
    g = fold(lines)[None]
    assert (g.jobs, g.tasks, g.run_ms) == (1, 1, 0.0)
