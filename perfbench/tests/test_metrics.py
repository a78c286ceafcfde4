"""Every metric BENCHMARK.json names is produced, with its unit."""

import json
import os

from perfbench import run
from perfbench.trace import Span, Tracer
from perfbench.workloads import SIMSEARCH_VARIANTS, WORKLOADS

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def _job(n, traced, hgn=True):
    spark = dict.fromkeys(("cpu_s", "run_s", "gc_s", "shuffle_read", "shuffle_write",
                           "spill", "stages", "tasks", "construct_s", "drain_s",
                           "construct_jobs", "drain_jobs", "ungrouped_jobs",
                           "busy_frac"), 1.0)
    parts = {}
    if hgn:
        parts["hgn_communities"] = {"phase_timings": {
            "init_sims": 1.0, "init_betweenness": 2.0, "n_steps": 3,
            "loop_delete_rule_per_step": [3.0, 1.0, 2.0], "loop_anti_join": 0.5,
            "final_cc": 0.7, "n_scored_per_step": [10, 6, 5],
            "n_deleted_per_step": [4, 1, 0]},
            "steps_spark": [{"cpu_s": 6.0, "wall_s": 3.0}, {"cpu_s": 0.5, "wall_s": 1.0},
                            {"cpu_s": 0.5, "wall_s": 2.0}]}
    return {"job": n, "job_s": 10.0 + n, "traced": traced, "spark": spark,
            "parts": parts}


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


def test_end_to_end_names_and_units():
    jobs = [_job(1, False), _job(2, False)]
    e2e, samples = run.end_to_end(jobs, {"total_s": 2.0}, 1234.5, 0, 2)
    for m in BENCH["end_to_end"]:
        value, unit = e2e[m["name"]]
        assert unit == m["unit"] and value > 0, m
        assert samples[m["name"]] >= 1
    assert e2e["setup_s"][0] == 2.0 and e2e["job_s"][0] == 11.5
    assert e2e["failed_frac"] == (0.0, "ratio")
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.GATED)
    assert set(run.GATED) < set(e2e)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert all(0 < b <= 0.25 for b in bounds.values())


def test_per_layer_names_and_units():
    t = Tracer()
    t.spans = [Span(0, "checkpoint", 1, None, 0.0, 1.0),
               Span(1, "checkpoint.release", 1, 0, 0.2, 0.3),
               Span(2, "components", 1, None, 2.0, 3.5)]
    jobs = [_job(1, True)]
    branch = dict.fromkeys(SIMSEARCH_VARIANTS, 0.5)
    m = run.layer_metrics(jobs, {"start_s": 1.0, "warmup_s": 2.0}, t, branch)
    want = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    assert {k: u for k, (v, u) in m.items()} == want
    assert m["session.start_s"][0] == 1.0 and m["session.warmup_s"][0] == 2.0
    assert m["checkpoint.calls"][0] == 1 and m["checkpoint.releases"][0] == 1
    assert m["components.s"][0] == 1.5
    assert m["hgn.tail_step_s"][0] == 1.5 and m["hgn.step1_s"][0] == 3.0
    assert m["hgn.deleted_per_scored"][0] == 5 / 21
    assert m["hgn.step1_task_cpu_s"][0] == 6.0
    assert m["hgn.step1_cpu_per_wall"][0] == 2.0
    assert m["hgn.tail_cpu_per_wall"][0] == 1.0 / 3.0
    assert m["trace.job_s"][0] == 11.0
    assert 0 <= m["trace.span_cost_s"][0] < 0.01
    assert m["trace.overhead_frac"][0] == m["trace.span_cost_s"][0] / 11.0


def test_missing_curation_report_fails_the_check_without_raising():
    wl = WORKLOADS["operators"]
    job = {"parts": {"curate_corpus": {"fingerprint": [5, 0]}}}
    verdicts = run.verify_job(wl, job, job, {}, {})
    assert verdicts["curate_corpus"] == "drained 5 rows, report says nothing"
