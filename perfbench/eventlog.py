"""Spark event-log parser: per-label, per-stage records.

Traced runs enable a ``file:`` event log.  Every call into a layer runs
under a ``setJobDescription`` label, which ``SparkListenerJobStart``
carries in its properties; ``SparkListenerStageCompleted`` carries the
stage's accumulables.  This module joins the two: each completed stage
is attributed to the label of the job that first submitted it.
"""

from __future__ import annotations

import json
from collections import defaultdict

DESCRIPTION = "spark.job.description"

# accumulable name -> (record field, scale to seconds / bytes)
ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
}

STAGE_FIELDS = sorted({f for f, _ in ACCUMULABLES.values()})


def _scopes(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def parse_events(lines) -> list[dict]:
    """One record per completed stage: label, job id, stage id, name,
    task count, the RDD operation scopes it ran, and the accumulables
    in ``ACCUMULABLES`` (seconds and bytes)."""
    stage_job: dict[int, int] = {}
    job_label: dict[int, str] = {}
    records = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            job_label[job] = (ev.get("Properties") or {}).get(DESCRIPTION) or ""
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            job = stage_job.get(sid, -1)
            rec = {
                "label": job_label.get(job, ""),
                "job": job,
                "stage": sid,
                "name": info.get("Stage Name", ""),
                "tasks": int(info.get("Number of Tasks", 0)),
                "scopes": _scopes(info),
                "failed": "Failure Reason" in info,
                **{f: 0.0 for f in STAGE_FIELDS},
            }
            for acc in info.get("Accumulables", []):
                got = ACCUMULABLES.get(acc.get("Name"))
                if got is not None and acc.get("Value") is not None:
                    field, scale = got
                    rec[field] += float(acc["Value"]) * scale
            records.append(rec)
    return records


def jobs_by_label(lines) -> dict[str, int]:
    """Number of jobs started under each label."""
    counts: dict[str, int] = defaultdict(int)
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            counts[(ev.get("Properties") or {}).get(DESCRIPTION) or ""] += 1
    return dict(counts)


def summarize(records: list[dict], label: str, jobs: dict[str, int]) -> dict:
    """Totals over every stage attributed to ``label``."""
    mine = [r for r in records if r["label"] == label]
    out = {"jobs": jobs.get(label, 0), "stages": len(mine), "tasks": sum(r["tasks"] for r in mine)}
    for f in STAGE_FIELDS:
        out[f] = sum(r[f] for r in mine)
    return out


def read_log(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        return fh.readlines()
