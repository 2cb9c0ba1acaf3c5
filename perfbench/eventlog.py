"""Spark event-log reader: per-description job, task and shuffle totals.

Handles both layouts Spark writes:

- one file per application, ``<dir>/<app-id>`` (``.inprogress`` while the
  application runs);
- Spark 4's rolling layout, ``<dir>/eventlog_v2_<app-id>/events_<n>_<app-id>``
  next to an ``appstatus_*`` marker; parts are read in ``<n>`` order.

Only uncompressed logs are read: run with ``spark.eventLog.compress=false``
(Spark 4 compresses with zstd by default). A compressed part raises
``ValueError`` naming the setting, rather than parsing garbage.

Tasks are attributed through their stage's ``spark.job.description`` local
property, which Spark copies onto every job and stage submitted while the
description is set — AQE's per-query-stage jobs included.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

_COMPRESSED = (".zstd", ".zst", ".lz4", ".lzf", ".snappy")
_PART_RE = re.compile(r"^events_(\d+)_")


@dataclass
class DescStats:
    """Totals for one job description."""

    jobs: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    # (submission_ms, completion_ms) per job, epoch milliseconds
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    def busy_ms(self) -> float:
        """Length of the union of this description's job intervals."""
        return union_length(self.job_intervals)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def log_files(log_dir: str | Path) -> list[Path]:
    """Event-log parts under ``log_dir`` in replay order."""
    root = Path(log_dir)
    out: list[tuple[str, int, Path]] = []
    for p in sorted(root.rglob("*")):
        if not p.is_file() or p.name.startswith(("appstatus_", ".")):
            continue
        if p.name.endswith(".crc"):
            continue
        if p.name.endswith(_COMPRESSED):
            raise ValueError(
                f"compressed event log {p.name}: run with "
                "spark.eventLog.compress=false"
            )
        m = _PART_RE.match(p.name)
        out.append((str(p.parent), int(m.group(1)) if m else 0, p))
    return [p for _, _, p in sorted(out)]


def read_events(log_dir: str | Path):
    for path in log_files(log_dir):
        with path.open(encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _desc(props) -> str | None:
    return (props or {}).get("spark.job.description")


def summarize(log_dir: str | Path) -> dict[str, DescStats]:
    """Fold an event log into ``{description: DescStats}``. Jobs, stages
    and tasks without a description are filed under ``""``."""
    stats: dict[str, DescStats] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_desc: dict[tuple[int, int], str] = {}

    def get(desc: str | None) -> DescStats:
        return stats.setdefault(desc or "", DescStats())

    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_desc[jid] = _desc(ev.get("Properties")) or ""
            job_start[jid] = ev.get("Submission Time", 0)
            get(job_desc[jid]).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                get(job_desc[jid]).job_intervals.append(
                    (job_start[jid], ev.get("Completion Time", job_start[jid]))
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_desc[key] = _desc(ev.get("Properties")) or ""
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            s = get(stage_desc.get(key, ""))
            s.tasks += 1
            m = ev.get("Task Metrics") or {}
            s.executor_run_ms += m.get("Executor Run Time", 0)
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s.input_records += (m.get("Input Metrics") or {}).get(
                "Records Read", 0
            )
    return stats
