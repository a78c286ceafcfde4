"""HGN delete-rule CASCADE probe: step-2+ delete-rule cost on a REAL
multi-step deletion cascade at sf0.1 and the 1000x-class graph tier.
hgn_communities scores a step on only the edges near the previous
step's deletions when its two scope gates open (hgn._SCOPE_MAX_*);
each scale runs the loop as shipped and once more with both gates
patched shut (every step scores all edges) as the equality reference,
reading the loop's per-step instrumentation:

  loop_delete_rule_per_step  — wall clock of each scoring+delete step
  n_scored_per_step          — |edges scored| (full |E| vs |scoped|)
  n_scope_per_step           — |scope| from step 2, None where unbuilt
  n_deleted_per_step         — the cascade shape itself

One untimed run of the shipped loop precedes the timed legs, and the
two legs swap order from one scale to the next (`leg_order` in the
JSON), so the JVM and codegen warm-in of a process's first run is
billed to neither form and `step2plus.speedup` does not measure leg
order.

The claim under test: step-2+ cost scales with |affected| (the scoped
edge count), not |E|. The equality pin is re-asserted ON THE PROBE
SHAPE: both runs must land on identical communities at every scale
(row count + per-row hash-sum fingerprint compared Spark-to-Spark).

The registered driver row's config converges in 2 steps (one deletion
generation) at every probed scale — no cascade to maintain
incrementally. The CASCADE config below was found by the sweep mode:
raising the r-metric thresholds widens the candidate set and each
deletion generation knocks neighbors' common-member counts below the
(unchanged) weight threshold, sustaining >=3 deletion generations.

Usage:
  python scripts/scale_probe_hgn_cascade.py sweep [sf_dir]
      # grid-search (r_thres, max_edge_weight, betweenness_thres) at
      # sf0.1 for a config with >=3 nonzero deletion steps; prints the
      # cascade shape per config (load-immune; secs are not).
  python scripts/scale_probe_hgn_cascade.py run [scales] [out.json]
      # scales default "sf0.1=/root/testdata/sf0.1,1000x=/tmp/hgn_scale/sf100graph"
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SCALES = "sf0.1=/root/testdata/sf0.1,1000x=/tmp/hgn_scale/sf100graph"

# Chosen by `sweep` at sf0.1 (see module docstring): the measured
# cascade is [1359, 131, 36, 21, 2, 0] — five decaying deletion
# generations then convergence, the shape where delta maintenance
# should pay. (r_thres=0.25 — the registered row's value — converges
# after ONE generation at every (mw, bt) swept; r_thres=0.4 sustains
# [378, 88, 33, 11, 5, 2] without converging by step 6.)
CASCADE = dict(
    r_thres=0.5,
    max_edge_weight=0.4,
    betweenness_thres=3.0,
    max_steps=6,
)


def _inputs(spark, sf_dir):
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.graph.queries import derived_edges

    edges = derived_edges(spark, sf_dir)
    vertices = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return vertices, edges


def _params(cfg: dict):
    from hgn_spark.graph.hgn import HGNParams

    return HGNParams(
        r_lvl1_thres=cfg["r_thres"],
        r_lvl2_thres=cfg["r_thres"],
        max_edge_weight=cfg["max_edge_weight"],
        betweenness_thres=cfg["betweenness_thres"],
        feature_min_avg=0.5,
        max_steps=cfg["max_steps"],
        max_sp_length=2,
    )


def _run_once(spark, sf_dir: str, cfg: dict, gates_shut: bool = False):
    """One full hgn_communities run → (timings, fingerprint);
    ``gates_shut`` patches both scope gates shut for the run."""
    from pyspark.sql import functions as F

    from hgn_spark.graph import hgn as hgn_mod
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    spark.sparkContext._jvm.System.gc()
    vertices, edges = _inputs(spark, sf_dir)
    timings: dict = {}
    shut = mock.patch.multiple(
        hgn_mod, _SCOPE_MAX_DELETED_FRACTION=0.0, _SCOPE_MAX_EDGE_FRACTION=0.0
    )
    t0 = time.perf_counter()
    with shut if gates_shut else contextlib.nullcontext():
        res = hgn_mod.hgn_communities(
            vertices, edges, ["nationkey"], _params(cfg), phase_timings=timings
        )
    # Fingerprint instead of noop drain: one aggregate action both
    # materializes the result and yields the equality evidence
    # (Spark-to-Spark comparison, so Spark's internal Murmur3 hash is
    # a valid fingerprint; component ids are xxhash-min labels from
    # connected_components, deterministic across runs).
    t1 = time.perf_counter()
    fp_row = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash("id", "component").cast("long")).alias("h"),
        F.countDistinct("component").alias("n_comp"),
    ).collect()[0]
    timings["final_drain"] = round(time.perf_counter() - t1, 3)
    timings["total"] = round(time.perf_counter() - t0, 3)
    fp = {"n_rows": fp_row["n"], "hash_sum": fp_row["h"], "n_comp": fp_row["n_comp"]}
    return timings, fp


def sweep(sf_dir: str) -> None:
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="hgn_cascade_sweep")
    for r in (0.25, 0.4, 0.5):
        for mw in (0.4, 0.5, 0.6):
            for bt in (2.0, 3.0):
                cfg = dict(
                    r_thres=r, max_edge_weight=mw, betweenness_thres=bt, max_steps=6
                )
                t, fp = _run_once(spark, sf_dir, cfg)
                print(
                    f"r={r} mw={mw} bt={bt}: steps={t.get('n_steps')} "
                    f"deleted={t.get('n_deleted_per_step')} "
                    f"n_comp={fp['n_comp']} total={t['total']}",
                    flush=True,
                )


def run(scales, out_path: str | None) -> None:
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="hgn_cascade_probe")
    out: dict = {
        "probe": "hgn_cascade",
        "config": CASCADE,
        "load_avg_start": round(os.getloadavg()[0], 2),
        "scales": {},
    }
    for label, sf_dir in scales:
        if not os.path.isdir(sf_dir):
            print(f"# skip {label}: missing", file=sys.stderr)
    scales = [(label, sf_dir) for label, sf_dir in scales if os.path.isdir(sf_dir)]
    if scales:
        # The process's first hgn_communities run pays the JVM and
        # codegen warm-in; run the shipped loop once untimed on the
        # first scale so neither timed leg carries it.
        warm, _ = _run_once(spark, scales[0][1], CASCADE)
        out["warmup"] = {"scale": scales[0][0], "total": warm["total"]}
    for i, (label, sf_dir) in enumerate(scales):
        per_leg: dict = {}
        fps: dict = {}
        # Alternate which leg runs first per scale, so a residual
        # order effect does not always favour the same form.
        order = ("default", "gates_shut") if i % 2 == 0 else ("gates_shut", "default")
        per_leg["leg_order"] = list(order)
        for leg in order:
            timings, fp = _run_once(spark, sf_dir, CASCADE, leg == "gates_shut")
            per_leg[leg] = timings
            fps[leg] = fp
            print(f"# {label}/{leg}: {json.dumps(timings)} fp={fp}",
                  file=sys.stderr, flush=True)
        # The equality pin, re-asserted on the probe shape (cascade
        # config, probe scales — not just Quakers).
        per_leg["communities_equal"] = fps["default"] == fps["gates_shut"]
        per_leg["fingerprint"] = fps["default"]
        if not per_leg["communities_equal"]:
            per_leg["fingerprints"] = fps
            print(f"# {label}: EQUALITY PIN FAILED {fps}", file=sys.stderr)
        # Headline: step-2+ delete-rule cost ratio (scoped/full) next to
        # the scored-edge ratio that should explain it.
        a = per_leg["gates_shut"]
        b = per_leg["default"]
        tail = slice(1, None)
        ta = a.get("loop_delete_rule_per_step", [])[tail]
        tb = b.get("loop_delete_rule_per_step", [])[tail]
        sa = a.get("n_scored_per_step", [])[tail]
        sb = b.get("n_scored_per_step", [])[tail]
        if ta and tb:
            per_leg["step2plus"] = {
                "secs_full": round(sum(ta), 3),
                "secs_incremental": round(sum(tb), 3),
                "speedup": round(sum(ta) / max(sum(tb), 1e-9), 2),
                "scored_full": sum(sa),
                "scored_incremental": sum(sb),
                "scored_fraction": round(sum(sb) / max(sum(sa), 1), 4),
            }
        out["scales"][label] = per_leg
    js = json.dumps(out)
    print(js)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write(js + "\n")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "sweep":
        sweep(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1")
        return
    scales = [
        tuple(s.split("=", 1))
        for s in (sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SCALES).split(",")
    ]
    run(scales, sys.argv[3] if len(sys.argv) > 3 else None)


if __name__ == "__main__":
    main()
