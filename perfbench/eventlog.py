"""Stdlib-only parser for an uncompressed Spark event log.

Spark writes one JSON object per line (``spark.eventLog.enabled=true``
with ``spark.eventLog.compress=false``; Spark 4 otherwise compresses
with zstd, which has no stdlib decoder).  ``parse`` turns a log into

- job rows: id, job group, description, submit/end epoch ms, result;
- stage rows, one per completed stage attempt, with the owning job
  and group: tasks, executor run/CPU/GC time, shuffle read/write
  bytes, spill, input bytes, and the Python-worker time and bytes
  that Arrow/pandas stages report as SQL metrics.

Only job and stage events are decoded; the per-task lines, which are
most of the file, are skipped by a substring test before ``json``.
"""

from __future__ import annotations

import json

# stage accumulable name -> stage-row field (values are summed)
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
STAGE_FIELDS = tuple(dict.fromkeys(_ACCUMS.values()))
_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerJobEnd"',
    '"SparkListenerStageCompleted"',
)


def parse(path: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the event log at ``path``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not any(w in line[:64] for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job_id": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "description": props.get("spark.job.description"),
                    "submit_ms": ev.get("Submission Time"),
                    "end_ms": None,
                    "result": None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end_ms"] = ev.get("Completion Time")
                    job["result"] = (ev.get("Job Result") or {}).get("Result")
            else:
                info = ev["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                row = {
                    "stage_id": info["Stage ID"],
                    "attempt": info.get("Stage Attempt ID", 0),
                    "job_id": jid,
                    "group": jobs[jid]["group"] if jid in jobs else None,
                    "name": info.get("Stage Name"),
                    "tasks": info.get("Number of Tasks", 0),
                    "submit_ms": info.get("Submission Time"),
                    "end_ms": info.get("Completion Time"),
                    **dict.fromkeys(STAGE_FIELDS, 0),
                }
                for acc in info.get("Accumulables", []):
                    field = _ACCUMS.get(acc.get("Name"))
                    if field is not None:
                        row[field] += int(float(acc.get("Value") or 0))
                stages.append(row)
    return list(jobs.values()), stages
