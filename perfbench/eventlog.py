"""Read Spark's event log and sum task metrics per job group.

Spark writes one JSON object per line. A job's group comes from the
``spark.jobGroup.id`` property of its ``SparkListenerJobStart``; each
``SparkListenerTaskEnd`` belongs to a stage, and each stage to the job
that listed it. Stages a later job reuses (skipped stages) run no tasks,
so every task is charged once.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    task_ms: list = field(default_factory=list)

    @property
    def skew(self) -> float:
        """Slowest task over the median task, 1.0 when tasks are even."""
        if not self.task_ms:
            return 1.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


def log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    return files[0]


def read(path: str) -> dict[str | None, GroupStats]:
    """Job group id (None for untagged jobs) -> summed task metrics."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                st = out.setdefault(g, GroupStats())
                st.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out.setdefault(stage_group.get(sid), GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                st = out.setdefault(stage_group.get(ev["Stage ID"]),
                                    GroupStats())
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                st.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
                st.task_ms.append(info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0))
    return out
