"""Per-run totals from Spark's JSON event log.

The traced launcher turns the event log on, uncompressed, at JVM start.
``EventLog.read_new`` returns the events appended since the previous
call, so each traced run reads only its own events.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter
from dataclasses import dataclass, field

from perfbench.trace import GROUP_PREFIX


@dataclass
class RunEvents:
    jobs_by_span: Counter = field(default_factory=Counter)  # span index -> jobs
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_disk_bytes: int = 0
    input_records: int = 0
    peak_cache_mem_bytes: int = 0


def summarize(events) -> RunEvents:
    """Fold parsed event-log records into one run's totals. Jobs count
    toward the span named by their job group; stages count when they
    complete (AQE-skipped stages never run and are not counted)."""
    out = RunEvents()
    cache: dict[str, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out.jobs += 1
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(GROUP_PREFIX):
                out.jobs_by_span[int(group[len(GROUP_PREFIX):])] += 1
        elif kind == "SparkListenerStageCompleted":
            out.stages += 1
        elif kind == "SparkListenerTaskEnd":
            out.tasks += 1
            m = ev.get("Task Metrics") or {}
            out.run_ms += m.get("Executor Run Time", 0)
            out.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            out.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            out.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
            out.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
        elif kind == "SparkListenerBlockUpdated":
            info = ev.get("Block Updated Info") or {}
            block = info.get("Block ID", "")
            if block.startswith("rdd_"):
                cache[block] = info.get("Memory Size", 0)
                out.peak_cache_mem_bytes = max(out.peak_cache_mem_bytes, sum(cache.values()))
    return out


class EventLog:
    """Incremental reader over the single event-log file of this app."""

    def __init__(self, log_dir: str, app_id: str):
        self.log_dir, self.app_id = log_dir, app_id
        self.offset = 0
        self.partial = b""

    def _path(self) -> str:
        paths = glob.glob(os.path.join(self.log_dir, self.app_id + "*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log for {self.app_id}, found {paths}")
        return paths[0]

    def read_new(self) -> list[dict]:
        with open(self._path(), "rb") as f:
            f.seek(self.offset)
            data = self.partial + f.read()
            self.offset = f.tell()
        lines = data.split(b"\n")
        self.partial = lines.pop()  # an unterminated line is not flushed yet
        return [json.loads(line) for line in lines if line.strip()]
