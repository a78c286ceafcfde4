"""Seeded benchmark for hgn_spark.

    python3 perfbench/run.py --workload hgn_cascade --seed 7 --seconds 1 --trace 0

Run from the repository root. Workloads: hgn_cascade and operators
(see perfbench/README.md). Load model: a closed loop with one client;
one driver process submits one benchmark job at a time to
local[<cores>] and waits for its noop drain before the next.

One run: generate the inputs from --seed (untimed), set up cold (this
process imports pyspark and hgn_spark, starts the JVM and the session,
runs load_all() and a fixed warm-up), then run timed jobs until
--seconds have passed (at least one). The first job's outputs are
collected untimed and checked; every later job's drain fingerprint must
equal the first's. Spark counters are read after the timed region; the
reference answers (DuckDB oracles or the HGN replay, cached per seed
and generator version) are computed in a child process after the
timed region.

--trace 1 installs spans around the layers' public functions and runs
one traced job (the same first execution an untraced run measures);
the per-layer metrics replace the end-to-end ones in the last line.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The full report (samples, spans, environment) goes to
.perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"
# The end-to-end metrics BENCHMARK.json gates on, in the last line.
# peak_rss_mb and failed_frac are printed and reported, not gated.
GATED = ("job_s", "task_cpu_s", "setup_s")

LAZY_NOTE = (
    "hgn_spark is lazy: a span around a layer call covers plan construction "
    "plus the eager actions inside that call; the remaining lazy work is "
    "billed to the next action (usually the drain)."
)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Run environment, set from the benchmark only."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(run_dir, v) for k, v in (
        ("SPARK_LOCAL_DIRS", "local"), ("SPARK_GRAFT_CKPT", "ckpt"),
        ("SPARK_GRAFT_WAREHOUSE", "warehouse"), ("TMPDIR", "tmp"))}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(dirs)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Keep the JVMs' own temp files inside the run directory too.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['TMPDIR']} -XX:-UsePerfData")
    return {"cores": cpus, "driver_mem": DRIVER_MEM}


# --- set-up -------------------------------------------------------------


def process_age() -> float:
    """Seconds since this process started (/proc starttime, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _warmup(spark) -> None:
    """Fixed engine warm-up: one small aggregation job, collected."""
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def setup(excluded_s: float):
    """The cold set-up: import pyspark and hgn_spark, start the session
    (JVM launch included), load_all(), warm-up → (spark, times).
    ``total_s`` runs from process start, less ``excluded_s`` of
    benchmark-only work (input generation) done before the set-up."""
    from perfbench.sparkstats import UI_CONF

    t0 = time.perf_counter()
    from hgn_spark.registry import load_all
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=UI_CONF)
    t1 = time.perf_counter()
    load_all()
    t2 = time.perf_counter()
    _warmup(spark)
    t3 = time.perf_counter()
    return spark, {"total_s": process_age() - excluded_s, "start_s": t1 - t0,
                   "load_all_s": t2 - t1, "warmup_s": t3 - t2}


def stop_spark() -> None:
    """Stop the active context, if any, then the JVM, and wait for it
    to exit. Safe to call on any path, more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# --- jobs ------------------------------------------------------------------


def _observed(df, name: str):
    """Attach a fingerprint (row count, summed Spark row hash) that
    arrives with the drain's own job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return df.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash(*df.columns).cast("long")), F.lit(0)).alias("h"),
    ), obs


def clear_between_jobs(spark) -> None:
    """Untimed: drop session caches so every job re-does the real
    work, and GC so one job's cleanup is not billed to the next."""
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    spark.sparkContext._jvm.System.gc()


def run_job(spark, wl, data_dir: str, job: int, tracer, phases: list,
            collect: bool) -> dict:
    """One benchmark job: construct and drain every part (timed). With
    ``collect``, then collect each checked part's output (untimed) with
    a second fingerprint, which must equal the drain's."""
    from perfbench.sparkstats import Phase, group_name
    from perfbench.workloads import StepClock

    sc = spark.sparkContext
    total, parts, frames = 0.0, {}, {}
    root = tracer.root(f"job:{wl.name}") if tracer else None
    for part in wl.parts:
        # phase_timings is bookkeeping only (no extra Spark jobs); the
        # HGN part always records its cascade for the replay check.
        pt = StepClock()
        g_c = group_name(job, part.name, "construct")
        g_d = group_name(job, part.name, "drain")
        sc.setJobGroup(g_c, f"perfbench {wl.name} job {job} construct")
        e0, p0 = time.time(), time.perf_counter()
        sp = tracer.begin(f"construct:{part.name}") if tracer else None
        df = part.build(spark, data_dir, pt)
        if tracer:
            tracer.end(sp)
        e1, p1 = time.time(), time.perf_counter()
        sc.setJobGroup(g_d, f"perfbench {wl.name} job {job} drain")
        sp = tracer.begin(f"drain:{part.name}") if tracer else None
        odf, obs = _observed(df, f"job{job}-{part.name}")
        odf.write.format("noop").mode("overwrite").save()
        if tracer:
            tracer.end(sp)
        e2, p2 = time.time(), time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        fp = obs.get
        total += p2 - p0
        phases.append(Phase(job, part.name, "construct", e0, e1, g_c, p1 - p0))
        phases.append(Phase(job, part.name, "drain", e1, e2, g_d, p2 - p1))
        parts[part.name] = {"fingerprint": [fp["n"], fp["h"]],
                            "phase_timings": dict(pt) or None,
                            "step_windows": pt.step_windows,
                            "construct_s": p1 - p0, "drain_s": p2 - p1}
        frames[part.name] = df
    if tracer:
        tracer.end(root)
    if collect:
        for part in wl.parts:
            if part.reference:
                parts[part.name].update(collect_checked(frames[part.name], part.name))
    return {"job_s": total, "parts": parts}


def collect_checked(df, name: str) -> dict:
    """Untimed: collect ``df`` → canonical hash, small values, and the
    fingerprint of this second execution."""
    from perfbench.check import canon_hash

    odf, obs = _observed(df, f"check-{name}")
    rows = [tuple(r) for r in odf.collect()]
    fp = obs.get
    out = {"collect_fingerprint": [fp["n"], fp["h"]], **canon_hash(df.columns, rows)}
    if len(rows) <= 100:
        out["values"] = [list(r) for r in rows]
    return out


def branch_drains(spark, data_dir: str) -> dict[str, float]:
    """simsearch: each labeled branch drained on its own, the way
    bench.py drains branches (other union arms fold to empty). Runs
    after the timed jobs on the session caches they left, so builds
    shared by all branches are not billed to the first one."""
    from pyspark.sql import functions as F

    from hgn_spark.branches import BRANCH_ROLES
    from hgn_spark.registry import load_all
    from perfbench.workloads import SIMSEARCH_VARIANTS

    row = "simsearch_topk_cosine"
    col, roles, _ = BRANCH_ROLES[row]
    if tuple(roles) != SIMSEARCH_VARIANTS:
        log(f"simsearch branches changed: {tuple(roles)} vs {SIMSEARCH_VARIANTS}")
    fn = load_all()[row].fn
    out = {}
    for label in roles:
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        fn(spark, data_dir).filter(F.col(col) == label).write.format("noop").mode(
            "overwrite").save()
        out[label] = time.perf_counter() - t0
    return out


def verify_job(wl, job: dict, first: dict, ref: dict, extra: dict) -> dict[str, str]:
    """Verdict per part of one job. The first job's outputs are
    collected and compared with the references; every later job's
    drain fingerprint must equal the first job's."""
    out = {}
    for part in wl.parts:
        got = job["parts"].get(part.name)
        if got is None:
            out[part.name] = "raised"
            continue
        verdict = "ok"
        if job is not first:
            if got["fingerprint"] != first["parts"][part.name]["fingerprint"]:
                verdict = "fingerprint differs from the first job"
            else:
                verdict = first["verdicts"][part.name]
        elif part.reference:
            r = ref[part.name]
            if got["collect_fingerprint"] != got["fingerprint"]:
                verdict = "drained and collected outputs differ"
            elif got["hash"] not in r["hashes"]:
                verdict = "output differs from the reference"
            elif part.reference == "replay" and not r["ties"]:
                steps = (got["phase_timings"] or {}).get("n_deleted_per_step")
                if steps != r["deleted_per_step"]:
                    verdict = f"cascade {steps} != replay {r['deleted_per_step']}"
        if part.name == "curate_corpus" and verdict == "ok":
            # The drained corpus holds exactly the report's final stage.
            report = dict(extra.get("pipeline_curation_report", {}).get("values", []))
            if got["fingerprint"][0] != report.get("7_curated_packed"):
                verdict = (f"drained {got['fingerprint'][0]} rows, report says "
                           f"{report.get('7_curated_packed', 'nothing')}")
        out[part.name] = verdict
    return out


def validity(wl, ref: dict, extra: dict) -> list[str]:
    """Problems that would make this seed's inputs an invalid workload."""
    bad = []
    r = ref.get("hgn_communities")
    if r is not None:
        if sum(1 for d in r["deleted_per_step"] if d) < 2:
            bad.append(f"no multi-step cascade: {r['deleted_per_step']}")
        if min(r["communities"]) < 2:
            bad.append("a single community")
    rep = extra.get("pipeline_curation_report", {}).get("values")
    if rep is not None:
        rep = dict(rep)
        if rep["4_neardup_deduped"] >= rep["3_exact_deduped"]:
            bad.append("no near-duplicate pairs")
    return bad


def _median(xs):
    return statistics.median(xs) if xs else None


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench import procs, workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    if not os.path.isfile(os.path.join(ROOT, "hgn_spark", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log("hgn_spark is not next to perfbench/: nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()[0]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # Every path out of the run stops Spark and waits for every process
    # the run started, orphans of the JVM included (see procs.py).
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, wl, run_dir, load_start)
    finally:
        try:
            stop_spark()
        finally:
            left = procs.reap_children()
            if left:
                log(f"stopped leftover processes {left}")
            shutil.rmtree(run_dir, ignore_errors=True)


def start_reference(wl, seed: int, data_dir: str, digest: str, out: str):
    """The reference answers (check.reference) in a child process, so
    they overlap the untimed Spark work that follows the timed region."""
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.check", wl.name, str(seed), data_dir,
         digest, os.path.join(WORK, "cache"), os.environ["TMPDIR"], out],
        cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr)


def wait_reference(proc, out: str) -> dict:
    if proc.wait() != 0:
        raise RuntimeError(f"reference process exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def _run(args, wl, run_dir: str, load_start: float) -> int:
    from perfbench import gen

    env = pin_environment(run_dir)
    t_excl = time.perf_counter()
    data_dir = os.path.join(run_dir, "data")
    sizes = {f: gen.generate(f, args.seed, data_dir) for f in wl.families}
    digest = gen.dir_digest(data_dir)
    log(f"generated seed {args.seed}: {sizes} ({digest[:12]})")

    # The cold set-up: from process start, less the input generation,
    # through session start, load_all() and the warm-up.
    spark, st = setup(time.perf_counter() - t_excl)
    log(f"setup: {st['total_s']:.3f}s")

    from perfbench import sparkstats
    from perfbench.trace import Tracer, install, layer_totals, self_times

    sc = spark.sparkContext
    tracer = None
    if args.trace:
        tracer = Tracer()
        install(tracer)

    attempted = failed = 0
    jobs: list[dict] = []
    phases: list = []
    extra: dict = {}
    t_loop = time.perf_counter()
    i = 0
    while i < 1 or (not tracer and time.perf_counter() - t_loop < args.seconds):
        i += 1
        traced = bool(tracer)
        clear_between_jobs(spark)
        if tracer:
            tracer.enabled, tracer.job = traced, i
        attempted += 1
        try:
            job = run_job(spark, wl, data_dir, i, tracer, phases, collect=not jobs)
        except Exception as exc:  # noqa: BLE001 — a raising job is a failed job
            log(f"job {i} raised: {type(exc).__name__}: {str(exc)[:300]}")
            failed += 1
            continue
        finally:
            if tracer:
                tracer.enabled = False
        job.update(job=i, traced=traced)
        jobs.append(job)
        log(f"job {i}{' (traced)' if traced else ''}: {job['job_s']:.3f}s")
    branch_s = {}
    if args.trace and any(p.name == "simsearch_topk_cosine" for p in wl.parts):
        branch_s = branch_drains(spark, data_dir)
        log(f"branch drains: {json.dumps({k: round(v, 3) for k, v in branch_s.items()})}")

    # Untimed from here on. The references (DuckDB oracles, HGN replay)
    # run in a child process, overlapping the remaining Spark work.
    ref_path = os.path.join(run_dir, "reference.json")
    ref_proc = start_reference(wl, args.seed, data_dir, digest, ref_path)
    for part in wl.extra_checks:
        try:
            extra[part.name] = collect_checked(part.build(spark, data_dir, {}), part.name)
        except Exception as exc:  # noqa: BLE001 — a raising check is a failed check
            log(f"{part.name} raised: {type(exc).__name__}: {str(exc)[:300]}")

    log("extra checks done")

    # Spark counters per job, peak memory, then stop Spark.
    for p in phases:
        p.group_jobs = list(sc.statusTracker().getJobIdsForGroup(p.group))
    rest_jobs, rest_stages = sparkstats.fetch(sc)
    log("Spark counters fetched")
    per_phase = sparkstats.attribute(phases, rest_jobs, rest_stages)
    for job in jobs:
        for part in job["parts"].values():
            if part.get("step_windows"):
                part["steps_spark"] = sparkstats.window_stats(
                    part["step_windows"], rest_jobs, rest_stages)
    from pyspark import SparkContext

    pid = sparkstats.jvm_pid(SparkContext._gateway.proc)
    rss = sparkstats.peak_rss_mb(pid) if pid else None
    cores = sc.defaultParallelism
    master = sc.master
    stop_spark()
    log("spark stopped")

    ref = wait_reference(ref_proc, ref_path)
    log("references ready")
    invalid = validity(wl, ref, extra)
    if invalid:
        log(f"invalid workload for seed {args.seed}: {invalid}")
        return 3
    extra_verdicts = {
        p.name: ("raised" if p.name not in extra else
                 "ok" if extra[p.name]["hash"] in ref[p.name]["hashes"] else "mismatch")
        for p in wl.extra_checks}
    for job in jobs:
        job["verdicts"] = verify_job(wl, job, jobs[0], ref, extra)
        job["ok"] = all(v == "ok" for v in job["verdicts"].values())
        failed += not job["ok"]
    correct = (failed == 0 and bool(jobs)
               and all(v == "ok" for v in extra_verdicts.values()))

    for job in jobs:
        acc = dict.fromkeys(("cpu_s", "run_s", "gc_s", "shuffle_read", "shuffle_write",
                             "spill", "stages", "tasks", "construct_s", "drain_s",
                             "construct_jobs", "drain_jobs", "ungrouped_jobs"), 0.0)
        for p in phases:
            if p.job != job["job"]:
                continue
            c = per_phase[(p.job, p.part, p.kind)]
            for k in ("cpu_s", "run_s", "gc_s", "shuffle_read", "shuffle_write",
                      "spill", "stages", "tasks", "ungrouped_jobs"):
                acc[k] += c[k]
            acc[f"{p.kind}_s"] += p.wall
            acc[f"{p.kind}_jobs"] += c["jobs"]
        acc["busy_frac"] = acc["run_s"] / (job["job_s"] * cores)
        job["spark"] = acc

    e2e, samples = end_to_end(jobs, st, rss, failed, attempted)
    report = {
        "workload": wl.name, "why": wl.why, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "load_model": "closed loop, one client, one job at a time",
        "inputs": {"sizes": sizes, "digest": digest,
                   "generator_version": gen.GEN_VERSION},
        "environment": {"master": master, "cores": env["cores"],
                        "effective_parallelism": cores,
                        "driver_mem": env["driver_mem"],
                        "load_avg_start": load_start,
                        "hgn_spark_tree_hash": sparkstats.tree_hash(
                            os.path.join(ROOT, "hgn_spark"))},
        "end_to_end": {k: {"value": v, "unit": u, "samples": samples[k]}
                       for k, (v, u) in e2e.items()},
        "setup": st,
        "jobs": [{k: v for k, v in j.items() if k != "parts"}
                 | {"parts": {n: {k: v for k, v in p.items() if k != "values"}
                              for n, p in j["parts"].items()}} for j in jobs],
        "correctness": {"correct": correct, "extra_checks": extra_verdicts,
                        "reference": ref},
    }

    if args.trace:
        per_layer = layer_metrics(jobs, st, tracer, branch_s)
        selfs = self_times(tracer.spans)
        report.update(
            per_layer={k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
            lazy_note=LAZY_NOTE,
            spans=[dict(vars(sp), self_s=selfs[sp.id]) for sp in tracer.spans],
            layer_totals={j["job"]: layer_totals(tracer.spans, j["job"])
                          for j in jobs if j["traced"]})
        metrics = report["per_layer"]
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{wl.name}-s{args.seed}-t{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    print(f"{wl.name} seed {args.seed}: inputs {json.dumps(sizes)}")
    for k, m in report["end_to_end"].items():
        print(f"{wl.name} {k} = {m['value']} {m['unit']} (median of {m['samples']})"
              if k != "failed_frac" else
              f"{wl.name} {k} = {m['value']} {m['unit']} ({failed} of {attempted} jobs)")
    print(f"{wl.name} correct = {correct}: "
          f"{json.dumps([j['verdicts'] for j in jobs] + [extra_verdicts])}")
    if args.trace:
        print(f"{wl.name} trace: {LAZY_NOTE}")
    print(f"{wl.name} report: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def end_to_end(jobs, setup_times, rss, failed: int, attempted: int):
    """End-to-end metrics {name: (value, unit)} and their sample counts."""
    e2e = {
        "job_s": (_median([j["job_s"] for j in jobs]), "s"),
        "task_cpu_s": (_median([j["spark"]["cpu_s"] for j in jobs]), "s"),
        "peak_rss_mb": (rss, "MB"),
        "setup_s": (setup_times["total_s"], "s"),
        "failed_frac": (failed / max(attempted, 1), "ratio"),
    }
    samples = {"job_s": len(jobs), "task_cpu_s": len(jobs),
               "setup_s": 1, "peak_rss_mb": 1, "failed_frac": attempted}
    return e2e, samples


def layer_metrics(jobs, setup_times, tracer, branch_s) -> dict:
    """Per-layer metrics of the traced jobs (medians over jobs)."""
    from perfbench.trace import layer_totals, span_cost

    traced = [j for j in jobs if j["traced"]]

    def med(f):
        vals = [f(j) for j in traced]
        return statistics.median(vals) if vals else 0.0

    layers = {j["job"]: layer_totals(tracer.spans, j["job"]) for j in traced}

    def lay(name, key="s"):
        return med(lambda j: layers[j["job"]].get(name, {}).get(key, 0.0))

    def hgn(f, key="phase_timings"):
        def get(j):
            part = j["parts"].get("hgn_communities")
            return f(part[key]) if part and part.get(key) else 0.0
        return med(get)

    def cpu_per_wall(steps):
        return (sum(s["cpu_s"] for s in steps) / sum(s["wall_s"] for s in steps)
                if steps else 0.0)

    m = {
        "session.start_s": (setup_times["start_s"], "s"),
        "session.warmup_s": (setup_times["warmup_s"], "s"),
        "driver.construct_s": (med(lambda j: j["spark"]["construct_s"]), "s"),
        "driver.drain_s": (med(lambda j: j["spark"]["drain_s"]), "s"),
        "driver.construct_jobs": (med(lambda j: j["spark"]["construct_jobs"]), "count"),
        "driver.drain_jobs": (med(lambda j: j["spark"]["drain_jobs"]), "count"),
        "driver.stages": (med(lambda j: j["spark"]["stages"]), "count"),
        "driver.tasks": (med(lambda j: j["spark"]["tasks"]), "count"),
        "spark.task_run_s": (med(lambda j: j["spark"]["run_s"]), "s"),
        "spark.busy_frac": (med(lambda j: j["spark"]["busy_frac"]), "ratio"),
        "spark.shuffle_read_bytes": (med(lambda j: j["spark"]["shuffle_read"]), "bytes"),
        "spark.shuffle_write_bytes": (med(lambda j: j["spark"]["shuffle_write"]), "bytes"),
        "spark.spill_bytes": (med(lambda j: j["spark"]["spill"]), "bytes"),
        "spark.gc_s": (med(lambda j: j["spark"]["gc_s"]), "s"),
        "checkpoint.calls": (lay("checkpoint", "calls"), "count"),
        "checkpoint.s": (lay("checkpoint"), "s"),
        "checkpoint.releases": (lay("checkpoint.release", "calls"), "count"),
        "hgn.init_sims_s": (hgn(lambda t: t.get("init_sims", 0.0)), "s"),
        "hgn.init_betweenness_s": (hgn(lambda t: t.get("init_betweenness", 0.0)), "s"),
        "hgn.step1_s": (hgn(lambda t: t["loop_delete_rule_per_step"][0]), "s"),
        "hgn.tail_step_s": (hgn(lambda t: statistics.mean(
            t["loop_delete_rule_per_step"][1:] or [0.0])), "s"),
        "hgn.step1_task_cpu_s": (hgn(lambda s: s[0]["cpu_s"], "steps_spark"), "s"),
        "hgn.step1_cpu_per_wall": (hgn(lambda s: cpu_per_wall(s[:1]), "steps_spark"),
                                   "ratio"),
        "hgn.tail_cpu_per_wall": (hgn(lambda s: cpu_per_wall(s[1:]), "steps_spark"),
                                  "ratio"),
        "hgn.anti_join_s": (hgn(lambda t: t.get("loop_anti_join", 0.0)), "s"),
        "hgn.final_cc_s": (hgn(lambda t: t.get("final_cc", 0.0)), "s"),
        "hgn.steps": (hgn(lambda t: t["n_steps"]), "count"),
        "hgn.edges_scored": (hgn(lambda t: sum(t["n_scored_per_step"])), "count"),
        "hgn.edges_deleted": (hgn(lambda t: sum(t["n_deleted_per_step"])), "count"),
        "hgn.deleted_per_scored": (hgn(lambda t: sum(t["n_deleted_per_step"])
                                       / max(sum(t["n_scored_per_step"]), 1)), "ratio"),
        "components.calls": (lay("components", "calls"), "count"),
        "components.s": (lay("components"), "s"),
        "pagerank.s": (lay("pagerank"), "s"),
        "lpa.s": (lay("lpa"), "s"),
        "kcore.s": (lay("kcore"), "s"),
        "dedup.canonical_groups_s": (lay("dedup.canonical_groups"), "s"),
        "text.decontaminate_s": (lay("text.decontaminate"), "s"),
    }
    from perfbench.workloads import SIMSEARCH_VARIANTS

    for label in SIMSEARCH_VARIANTS:
        m[f"simsearch.branch_s.{label}"] = (branch_s.get(label, 0.0), "s")
    t_job = med(lambda j: j["job_s"])
    spans = med(lambda j: sum(1 for sp in tracer.spans if sp.job == j["job"]))
    cost = span_cost() * spans
    m["trace.job_s"] = (t_job, "s")
    m["trace.span_cost_s"] = (cost, "s")
    m["trace.overhead_frac"] = (cost / t_job if t_job else 0.0, "ratio")
    return m


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
