"""The event-log parser on a small recorded log.

``data/eventlog.jsonl`` was recorded from a local[4] session with the
traced launcher's confs. It holds three jobs: ``sum(id)`` over 1 000
rows in 2 partitions in job group ``perfbench:0``; a persisted
``id % 10`` frame grouped and counted in group ``perfbench:3`` (AQE off,
4 shuffle partitions); and a ``count()`` outside any group. Only the
event kinds the parser reads were kept.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.eventlog import EventLog, summarize

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def events() -> list[dict]:
    with open(LOG) as f:
        return [json.loads(line) for line in f]


def test_summarize_recorded_log():
    r = summarize(events())
    assert (r.jobs, r.stages, r.tasks) == (3, 6, 12)
    assert dict(r.jobs_by_span) == {0: 1, 3: 1}  # the third job has no span
    assert (r.run_ms, r.gc_ms) == (1122, 93)
    assert r.cpu_ms == pytest.approx(627.356915)
    assert (r.shuffle_write_bytes, r.shuffle_read_bytes) == (732, 732)
    assert r.spill_disk_bytes == 0
    assert r.input_records == 3000  # three scans of 1 000 rows
    assert r.peak_cache_mem_bytes == 2 * 768  # two cached partitions, no broadcasts


def test_cache_peak_drops_removed_blocks():
    evs = events()
    removed = {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
        "Block ID": "rdd_11_0", "Memory Size": 0}}
    again = {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
        "Block ID": "rdd_12_0", "Memory Size": 1000}}
    assert summarize(evs + [removed, again]).peak_cache_mem_bytes == 1768


def test_read_new_returns_only_complete_new_lines(tmp_path):
    app = "local-1"
    path = tmp_path / f"{app}.inprogress"
    lines = open(LOG).read().splitlines(keepends=True)
    path.write_text(lines[0] + lines[1][:10])  # second line not flushed yet
    log = EventLog(str(tmp_path), app)
    assert [e["Job ID"] for e in log.read_new()] == [0]
    with open(path, "a") as f:
        f.write(lines[1][10:] + lines[2])
    assert len(log.read_new()) == 2
    assert log.read_new() == []
