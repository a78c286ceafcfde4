"""Spark-side counters for the benchmark: per-job attribution of Spark
jobs and stage metrics, read after the timed region, plus the JVM's
peak resident memory.

Jobs are attributed by job group (``setJobGroup`` before each phase of
each benchmark job, read back with ``statusTracker().
getJobIdsForGroup``), never by diffing global job ids. Jobs submitted
from pool threads inside the program carry no group (Spark's job group
is a thread-local property); those are attributed to the phase whose
wall-clock window contains their submission time, which is exact under
the closed loop with one client. Stage metrics come from the UI's
local REST endpoint; the first fetch costs over a second, so it runs
only after the timed region.
"""

from __future__ import annotations

import json
import os
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

# Keep every job and stage of a run readable after the timed region.
UI_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class Phase:
    """One timed phase (construct or drain) of one benchmark job."""

    job: int
    part: str
    kind: str  # "construct" | "drain"
    start: float  # epoch seconds
    end: float
    group: str
    wall: float = 0.0  # perf_counter duration of the phase
    group_jobs: list[int] = field(default_factory=list)


def group_name(job: int, part: str, kind: str) -> str:
    return f"perfbench-{job}-{part}-{kind}"


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as resp:
        return json.load(resp)


def _epoch(ts: str | None) -> float | None:
    # REST timestamps look like 2026-10-16T23:40:01.123GMT.
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def fetch(sc) -> tuple[list[dict], dict[int, dict]]:
    """→ (all jobs, completed stage attempts by stage id) from REST."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(base, "/jobs")
    stages: dict[int, dict] = {}
    for st in _get(base, "/stages"):
        if st.get("status") == "COMPLETE":
            prev = stages.get(st["stageId"])
            # Sum retried attempts: their work was done too.
            if prev is None:
                stages[st["stageId"]] = dict(st)
            else:
                for k in _STAGE_SUMS:
                    prev[k] = prev.get(k, 0) + st.get(k, 0)
    return jobs, stages


_STAGE_SUMS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
               "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
               "diskBytesSpilled", "numCompleteTasks")


def attribute(phases: list[Phase], jobs: list[dict],
              stages: dict[int, dict]) -> dict[tuple[int, str, str], dict]:
    """Per (job, part, kind) phase → Spark job count, stage count, task
    count and summed stage metrics. Each stage counts once, for the
    first Spark job that lists it (later jobs reusing its shuffle
    output skip it)."""
    owner: dict[int, Phase] = {jid: p for p in phases for jid in p.group_jobs}
    for j in jobs:
        if j["jobId"] in owner or j.get("jobGroup"):
            continue
        t = _epoch(j.get("submissionTime"))
        p = next((q for q in phases if t is not None
                  and q.start - 0.002 <= t <= q.end + 0.002), None)
        if p is not None:
            owner[j["jobId"]] = p
    out = {(p.job, p.part, p.kind): {
        "jobs": 0, "ungrouped_jobs": 0, "stages": 0, "tasks": 0,
        "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "shuffle_read": 0,
        "shuffle_write": 0, "spill": 0} for p in phases}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        p = owner.get(j["jobId"])
        if p is None:
            continue
        acc = out[(p.job, p.part, p.kind)]
        acc["jobs"] += 1
        acc["ungrouped_jobs"] += j["jobId"] not in p.group_jobs
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            acc["stages"] += 1
            acc["tasks"] += st.get("numCompleteTasks", 0)
            acc["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            acc["run_s"] += st.get("executorRunTime", 0) / 1e3
            acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            acc["shuffle_read"] += st.get("shuffleReadBytes", 0)
            acc["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            acc["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    return out


def window_stats(windows: list[tuple[float, float]], jobs: list[dict],
                 stages: dict[int, dict]) -> list[dict]:
    """Per epoch-second window (start, end) → Spark jobs submitted in it
    and the CPU and run time of their stages, each stage counted once,
    for the first job that lists it. Under the closed loop every job a
    window's thread submits starts inside that window."""
    out = [{"jobs": 0, "cpu_s": 0.0, "run_s": 0.0, "wall_s": hi - lo}
           for lo, hi in windows]
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        t = _epoch(j.get("submissionTime"))
        i = next((i for i, (lo, hi) in enumerate(windows)
                  if t is not None and lo - 0.002 <= t <= hi + 0.002), None)
        if i is None:
            continue
        acc = out[i]
        acc["jobs"] += 1
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            acc["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            acc["run_s"] += st.get("executorRunTime", 0) / 1e3
    return out


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def jvm_pid(gateway_proc) -> int | None:
    """The Spark JVM: the gateway process itself once spark-submit has
    exec'd java, else its java descendant."""
    todo = [gateway_proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo += _children(pid)
    return None


def peak_rss_mb(pid: int) -> float | None:
    """VmHWM: the kernel's record of the process's peak resident set."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def tree_hash(root: str) -> str:
    """sha256 over the sorted (path, bytes) of every .py file under
    ``root`` — identifies the measured program without git."""
    import hashlib

    h = hashlib.sha256()
    files = []
    for d, dirs, names in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()
