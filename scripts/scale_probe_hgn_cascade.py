"""HGN delete-rule CASCADE probe: the loop's per-step cost on a REAL
multi-step deletion cascade at sf0.1 and larger graphs, in each of its
finishing forms. Each scale runs up to three legs, each patching hgn's
module constants for one run:

  driver_finish — _DRIVER_FINISH_BUDGET_BYTES = inf: every step and
                  the final components run in-process after one collect
  bound_0       — _DRIVER_FINISH_BUDGET_BYTES = 0: the Spark loop with
                  the shipped scope gates (hgn._SCOPE_MAX_*)
  gates_shut    — bound 0 and both scope gates shut: every Spark step
                  scores all edges (the scope's equality reference)

and reads the loop's per-step instrumentation:

  loop_delete_rule_per_step  — wall clock of each scoring+delete step
  n_scored_per_step          — |edges scored| (full |E| vs |scoped|)
  n_scope_per_step           — |scope| from step 2, None where unbuilt
  n_deleted_per_step         — the cascade shape itself

Headlines per scale: ``finish`` compares the driver_finish leg's steps
plus final components (the collect included) with bound_0's, next to
the graph's edges and Σ deg(v)² (``level2_bound``), the driver_finish
leg's peak growth of this process's resident set (``py_rss_peak_mb``,
sampled every 20 ms) and hgn's estimate of it
(``estimate_mb``, hgn._driver_finish_bytes) — the measurements the
rates hgn._DRIVER_FINISH_BYTES_PER_* are fitted to.
``step2plus`` compares bound_0's step-2+ delete-rule cost with
gates_shut's. Run a scale's driver_finish leg first in its process (or
after smaller scales only): freed memory a Python process keeps for
reuse would hide part of a later leg's growth.

One untimed run of the Spark loop precedes the timed legs, and the
leg order rotates from one scale to the next (`leg_order` in the
JSON), so the JVM and codegen warm-in of a process's first run is
billed to no leg and the headlines do not measure leg order.

The equality pin is re-asserted ON THE PROBE SHAPE: all legs run must
land on identical communities at every scale (row count + per-row
hash-sum fingerprint compared Spark-to-Spark).

A scale is a data directory holding either the TPC-H-shaped tables the
derived graph is built from (sf0.1, or a slice of
scripts/gen_graph_slice.py) or a graph written by the ``graph`` mode:
``hgn_edges.parquet`` (src, dst) and ``hgn_vertices.parquet``
(id, nationkey).

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
  python scripts/scale_probe_hgn_cascade.py run [scales] [out.json] [legs]
      # scales default "sf0.1=/root/testdata/sf0.1,1000x=/tmp/hgn_scale/sf100graph"
      # (10x/100x slices: python scripts/gen_graph_slice.py 10|100 <sf0.1> <out>);
      # legs: comma list of LEGS, default all three
  python scripts/scale_probe_hgn_cascade.py graph derived <k> <sf_dir> <out>
      # k disjoint copies of sf_dir's derived graph (ids offset per copy)
  python scripts/scale_probe_hgn_cascade.py graph ba <n> <m> <seed> <out>
      # a preferential-attachment graph with hubs (networkx
      # barabasi_albert_graph; n=1856, m=7 is Hamsterster's size:
      # 12,943 edges, max degree 184), nationkey uniform over 25 values
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
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

    if os.path.exists(f"{sf_dir}/hgn_edges.parquet"):
        return (
            spark.read.parquet(f"{sf_dir}/hgn_vertices.parquet"),
            spark.read.parquet(f"{sf_dir}/hgn_edges.parquet"),
        )
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


# Module constants of hgn_spark.graph.hgn each leg patches.
_SHUT = {"_SCOPE_MAX_DELETED_FRACTION": 0.0, "_SCOPE_MAX_EDGE_FRACTION": 0.0}
LEGS = {
    "driver_finish": {"_DRIVER_FINISH_BUDGET_BYTES": float("inf")},
    "bound_0": {"_DRIVER_FINISH_BUDGET_BYTES": 0},
    "gates_shut": {"_DRIVER_FINISH_BUDGET_BYTES": 0, **_SHUT},
}


def _rss_mb() -> float:
    with open("/proc/self/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


class _RssPeak:
    """Peak growth of this process's resident set over a block,
    sampled every 20 ms on a thread."""

    def __enter__(self):
        self.base = self.peak = _rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _sample(self):
        while not self._stop.wait(0.02):
            self.peak = max(self.peak, _rss_mb())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.growth_mb = round(max(self.peak, _rss_mb()) - self.base, 1)


def _run_once(spark, sf_dir: str, cfg: dict, leg: str | None = None):
    """One full hgn_communities run → (timings, fingerprint); ``leg``
    names the LEGS patch to run under (None: the shipped constants)."""
    from pyspark.sql import functions as F

    from hgn_spark.graph import hgn as hgn_mod
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    spark.sparkContext._jvm.System.gc()
    vertices, edges = _inputs(spark, sf_dir)
    timings: dict = {}
    t0 = time.perf_counter()
    patch = mock.patch.multiple(hgn_mod, **LEGS[leg]) if leg else contextlib.nullcontext()
    with patch, _RssPeak() as rss:
        res = hgn_mod.hgn_communities(
            vertices, edges, ["nationkey"], _params(cfg), phase_timings=timings
        )
    timings["py_rss_peak_mb"] = rss.growth_mb
    # Fingerprint instead of noop drain: one aggregate action both
    # materializes the result and yields the equality evidence
    # (Spark-to-Spark comparison, so Spark's internal Murmur3 hash is
    # a valid fingerprint; component ids are min vertex ids on every
    # leg, deterministic across runs).
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


def _finish_s(t: dict) -> float:
    """Steps plus final components: everything after init."""
    return sum(t.get("loop_delete_rule_per_step", [])) + t.get(
        "loop_anti_join", 0.0
    ) + t.get("final_cc", 0.0)


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


def _level2_bound(spark, sf_dir: str) -> tuple[int, int]:
    """(edges, Σ_v deg(v)²) of a scale's canonical input graph."""
    from pyspark.sql import functions as F

    from hgn_spark.graph.core import canonicalize, symmetrize

    _, edges = _inputs(spark, sf_dir)
    e = canonicalize(edges)
    row = (
        symmetrize(e, assume_canonical=True)
        .groupBy("src")
        .count()
        .agg(
            (F.sum("count") / 2).cast("long").alias("n"),
            F.sum(F.col("count") * F.col("count")).alias("l2"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["l2"])


def run(scales, out_path: str | None, legs: list[str]) -> None:
    from hgn_spark.graph import hgn as hgn_mod
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
        # codegen warm-in; run the Spark loop once untimed on the
        # first scale so no timed leg carries it.
        warm, _ = _run_once(spark, scales[0][1], CASCADE, "bound_0")
        out["warmup"] = {"scale": scales[0][0], "total": warm["total"]}
    for i, (label, sf_dir) in enumerate(scales):
        per_leg: dict = {}
        fps: dict = {}
        # Rotate the leg order per scale, so a residual order effect
        # does not always favour the same form.
        order = legs[i % len(legs):] + legs[: i % len(legs)]
        per_leg["leg_order"] = order
        for leg in order:
            timings, fp = _run_once(spark, sf_dir, CASCADE, leg)
            per_leg[leg] = timings
            fps[leg] = fp
            print(f"# {label}/{leg}: {json.dumps(timings)} fp={fp}",
                  file=sys.stderr, flush=True)
        # The equality pin, re-asserted on the probe shape (cascade
        # config, probe scales — not just Quakers).
        per_leg["communities_equal"] = len({json.dumps(f) for f in fps.values()}) == 1
        per_leg["fingerprint"] = fps[order[0]]
        if not per_leg["communities_equal"]:
            per_leg["fingerprints"] = fps
            print(f"# {label}: EQUALITY PIN FAILED {fps}", file=sys.stderr)
        n_edges, level2 = _level2_bound(spark, sf_dir)
        fin: dict = {"n_edges": n_edges, "level2_bound": level2}
        drv, spk = per_leg.get("driver_finish"), per_leg.get("bound_0")
        if drv:
            fin["secs_driver"] = round(_finish_s(drv), 3)
            fin["driver_step1_s"] = drv["loop_delete_rule_per_step"][0]
            fin["py_rss_peak_mb"] = drv["py_rss_peak_mb"]
            fin["estimate_mb"] = round(
                hgn_mod._driver_finish_bytes(n_edges, level2) / 2**20, 1
            )
        if spk:
            fin["secs_spark"] = round(_finish_s(spk), 3)
        if drv and spk:
            fin["speedup"] = round(_finish_s(spk) / max(_finish_s(drv), 1e-9), 2)
        per_leg["finish"] = fin
        # Step-2+ delete-rule cost ratio (scoped/full) next to the
        # scored-edge ratio that should explain it.
        a, b = per_leg.get("gates_shut", {}), spk or {}
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


def write_graph(kind: str, args: list[str]) -> None:
    """Write a probe graph directory (see the module docstring)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = args[-1]
    if kind == "derived":
        from pyspark.sql import functions as F

        from hgn_spark.session import get_spark

        k, sf_dir = int(args[0]), args[1]
        spark = get_spark(app_name="hgn_cascade_graph")
        vertices, edges = _inputs(spark, sf_dir)
        v = vertices.select(F.col("id").cast("long"), "nationkey").toArrow()
        e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).toArrow()
        ids = v["id"].to_numpy()
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        # Disjoint copies: copy c shifts every id by c * pad, which keeps
        # each copy's id order (so canonical orientation and min-id
        # component labels are the base graph's, shifted).
        pad = int(max(ids.max(), src.max(), dst.max())) + 1

        def shift(a):
            return np.concatenate([a + c * pad for c in range(k)])

        vt = pa.table(
            {"id": shift(ids), "nationkey": np.tile(v["nationkey"].to_numpy(), k)}
        )
        et = pa.table({"src": shift(src), "dst": shift(dst)})
    elif kind == "ba":
        import networkx as nx

        n, m, seed = int(args[0]), int(args[1]), int(args[2])
        g = nx.barabasi_albert_graph(n, m, seed=seed)
        pairs = np.array(sorted((min(a, b), max(a, b)) for a, b in g.edges()))
        rng = np.random.default_rng(seed)
        vt = pa.table(
            {
                "id": np.arange(1, n + 1, dtype=np.int64),
                "nationkey": rng.integers(25, size=n).astype(np.int32),
            }
        )
        et = pa.table({"src": pairs[:, 0] + 1, "dst": pairs[:, 1] + 1})
    else:
        raise SystemExit(f"unknown graph kind {kind!r}")
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(vt, f"{out_dir}/hgn_vertices.parquet")
    pq.write_table(et, f"{out_dir}/hgn_edges.parquet")
    print(f"{out_dir}: {vt.num_rows} vertices, {et.num_rows} edges")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "sweep":
        sweep(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1")
        return
    if mode == "graph":
        write_graph(sys.argv[2], sys.argv[3:])
        return
    scales = [
        tuple(s.split("=", 1))
        for s in (sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SCALES).split(",")
    ]
    legs = sys.argv[4].split(",") if len(sys.argv) > 4 else list(LEGS)
    run(scales, sys.argv[3] if len(sys.argv) > 3 else None, legs)


if __name__ == "__main__":
    main()
