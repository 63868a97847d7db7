"""Reader for Spark 4's rolling JSON event log,
``eventlog_v2_<appId>/events_<n>_<appId>``.

The traced run writes the log uncompressed
(``spark.eventLog.compress=false``); a compressed part is refused with an
error that names the setting, rather than misread.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from dataclasses import dataclass, field
from pathlib import Path

_CODECS = (".zstd", ".lz4", ".snappy", ".lzf")
_PART = re.compile(r"^events_(\d+)_")

#: Names of the SQL metrics Spark's Python-UDF operators report.
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"


def event_files(log_dir: Path) -> list[Path]:
    """The parts of every ``eventlog_v2_*`` directory under ``log_dir`` (or
    of ``log_dir`` itself, when it is one), in write order."""
    if log_dir.name.startswith("eventlog_v2_"):
        dirs = [log_dir]
    else:
        dirs = sorted(p for p in log_dir.iterdir() if p.is_dir() and p.name.startswith("eventlog_v2_"))
    files: list[Path] = []
    for d in dirs:
        parts = [p for p in d.iterdir() if _PART.match(p.name)]
        files.extend(sorted(parts, key=lambda p: int(_PART.match(p.name).group(1))))
    return files


def _lines(path: Path) -> Iterator[str]:
    codec = next((c for c in _CODECS if path.name.endswith(c)), None)
    if codec is not None:
        raise ValueError(
            f"{path.name} is compressed ({codec[1:]}); run Spark with spark.eventLog.compress=false"
        )
    with open(path, encoding="utf-8") as f:
        yield from f


def read_events(log_dir: Path) -> Iterator[dict]:
    for path in event_files(log_dir):
        for line in _lines(path):
            line = line.strip()
            if line:
                yield json.loads(line)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stages: list[int]
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    read_bytes: int = 0
    gc_ms: int = 0
    py: dict[str, int] = field(default_factory=dict)


def jobs(events: Iterator[dict]) -> list[Job]:
    """One :class:`Job` per ``SparkListenerJobStart``, with the metrics of
    every task its stages ran summed in."""
    by_id: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"], ev.get("Stage IDs", []))
            by_id[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev.get("Stage ID"))
            if job is None:
                continue
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            job.cpu_ns += m.get("Executor CPU Time", 0)
            job.gc_ms += m.get("JVM GC Time", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.read_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in (PY_RUN, PY_START, PY_SENT):
                    job.py[name] = job.py.get(name, 0) + int(acc.get("Update", 0))
    return sorted(by_id.values(), key=lambda j: j.job_id)


def attribute(jobs_: list[Job], windows: dict[str, tuple[float, float]]) -> dict[str, list[Job]]:
    """Assign each job to an op: by its job group when that names an op,
    else to the op whose ``(start, end)`` wall-clock window (seconds)
    holds the job's submission time. Jobs matching neither are left out
    (set-up, warm pass and verification jobs)."""
    out: dict[str, list[Job]] = {op: [] for op in windows}
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    for job in jobs_:
        if job.group in out:
            out[job.group].append(job)
            continue
        t = job.submit_ms / 1000.0
        for op, (s, e) in ordered:
            if s <= t <= e:
                out[op].append(job)
                break
    return out
