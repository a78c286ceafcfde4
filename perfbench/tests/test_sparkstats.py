"""Per-job attribution of Spark jobs and stages (synthetic REST data)."""

from datetime import datetime, timezone

from perfbench.sparkstats import Phase, attribute, window_stats
from perfbench.workloads import StepClock


def _ts(epoch):
    return datetime.fromtimestamp(epoch, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def _stage(sid, cpu_ns=1e9, run_ms=2000):
    return {"stageId": sid, "status": "COMPLETE", "executorCpuTime": cpu_ns,
            "executorRunTime": run_ms, "jvmGcTime": 10, "shuffleReadBytes": 5,
            "shuffleWriteBytes": 7, "memoryBytesSpilled": 0,
            "diskBytesSpilled": 0, "numCompleteTasks": 4}


def test_groups_time_windows_and_shared_stages():
    t0 = 1_700_000_000.0
    phases = [
        Phase(1, "p", "construct", t0, t0 + 1, "g1c", group_jobs=[10, 11]),
        Phase(1, "p", "drain", t0 + 1, t0 + 2, "g1d", group_jobs=[12]),
        Phase(2, "p", "construct", t0 + 5, t0 + 6, "g2c", group_jobs=[]),
    ]
    jobs = [
        {"jobId": 10, "jobGroup": "g1c", "stageIds": [1], "submissionTime": _ts(t0)},
        {"jobId": 11, "jobGroup": "g1c", "stageIds": [2], "submissionTime": _ts(t0 + .1)},
        # a pool-thread job: no group, submitted inside job 1's construct
        {"jobId": 9, "stageIds": [3], "submissionTime": _ts(t0 + 0.5)},
        # the drain reuses stage 2's shuffle output: counted once, for job 11
        {"jobId": 12, "jobGroup": "g1d", "stageIds": [2, 4], "submissionTime": _ts(t0 + 1.2)},
        # someone else's job outside every window
        {"jobId": 13, "stageIds": [5], "submissionTime": _ts(t0 + 3)},
        # ungrouped job inside job 2's construct
        {"jobId": 14, "stageIds": [6], "submissionTime": _ts(t0 + 5.5)},
    ]
    stages = {i: _stage(i) for i in range(1, 7)}
    out = attribute(phases, jobs, stages)
    c1, d1, c2 = out[(1, "p", "construct")], out[(1, "p", "drain")], out[(2, "p", "construct")]
    assert (c1["jobs"], c1["ungrouped_jobs"], c1["stages"]) == (3, 1, 3)
    assert (d1["jobs"], d1["stages"], d1["tasks"]) == (1, 1, 4)
    assert c1["cpu_s"] == 3.0 and c1["run_s"] == 6.0
    assert (c2["jobs"], c2["stages"]) == (1, 1)
    assert all(v >= 0 for acc in out.values() for v in acc.values())


def test_step_windows_from_phase_timings():
    """StepClock records a window per HGN step, from the step's
    n_steps assignment to its loop_delete_rule_per_step append."""
    t = StepClock()
    t["init_sims"] = 0.5
    assert t.step_windows == []
    for step in (1, 2):
        t["n_steps"] = step
        t.setdefault("n_scored_per_step", []).append(10)
        t.setdefault("loop_delete_rule_per_step", []).append(0.1)
    assert len(t.step_windows) == 2
    assert all(lo <= hi for lo, hi in t.step_windows)
    assert t.step_windows[0][1] <= t.step_windows[1][0]
    assert dict(t)["n_steps"] == 2 and dict(t)["loop_delete_rule_per_step"] == [0.1, 0.1]


def test_window_stats_counts_each_stage_once():
    t0 = 1_700_000_000.0
    jobs = [
        {"jobId": 1, "stageIds": [1], "submissionTime": _ts(t0 + 0.1)},
        {"jobId": 2, "stageIds": [1, 2], "submissionTime": _ts(t0 + 0.5)},
        {"jobId": 3, "stageIds": [3], "submissionTime": _ts(t0 + 1.5)},
        {"jobId": 4, "stageIds": [4], "submissionTime": _ts(t0 + 5)},
    ]
    stages = {i: _stage(i) for i in range(1, 5)}
    w = window_stats([(t0, t0 + 1), (t0 + 1, t0 + 2)], jobs, stages)
    assert (w[0]["jobs"], w[0]["cpu_s"], w[0]["run_s"]) == (2, 2.0, 4.0)
    assert (w[1]["jobs"], w[1]["cpu_s"]) == (1, 1.0)
    assert w[0]["wall_s"] == 1.0
