"""Recall-calibrated IVF probe (VERDICT r12 #1): measures whether
`ivf_calibrate_nprobe` holds recall@k AT its stated target, flat
across corpus growth, on BOTH corpus shapes — the property every
fixed nprobe provably lacks (PROBE_ivf_build_r12: recall@5 at
nprobe=32 decayed 0.95 -> 0.44-0.51 at 100x because nlist ~ sqrt(n)
shrinks any pinned dial's probed fraction).

Per (corpus, scale) x builder:
  1. build the index (exact_assign = sqrt-n stride seeds + exact argmax;
     linear = `ivf_build_linear` production avg-Lloyd), materialize
     the assignment (served-index protocol, as in the r12 probe);
  2. `ivf_calibrate_nprobe` sizes the dial from the index's own
     measured home-rank curve (timed separately — this is the
     recurring per-build calibration cost);
  3. run the query path at the sized dial over a bounded standing
     query set (stride widened so ~TARGET_QUERIES queries measure the
     per-query-average recall; the r12 sweep's full 12k-query sets
     made the 300x sweep O(30 min) without changing the average);
  4. report recall@k vs numpy brute-force truth, the sized nprobe,
     nlist, and the probed fraction.

The pass bar: recall_at_k >= (CAL_TARGET_PCT - 5)/100 at every probed
(corpus, scale) — target minus the documented calibration-sampling
slack. On the isotropic corpus the sized dial is expected to be LARGE
(a large fraction probed): that is the calibration being honest about
IVF's value on structureless data, and the probe records the fraction
so the trade is a number. On the clustered corpus the dial should
come back far smaller at equal recall.

Timing hygiene (memory: probes in a quiet window; recall numbers are
load-immune, secs_* fields are not).

Usage: python scripts/scale_probe_ivf_calibrated.py [scales] [out.json]
  scales default covers isotropic sf0.1/100x/300x + clustered base/10x.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

DEFAULT_SCALES = (
    "iso_sf0.1=/root/testdata/sf0.1,"
    "iso_100x=/tmp/hgn_scale/sf10,"
    "iso_300x=/tmp/hgn_scale/sf30,"
    "clu_base=/tmp/hgn_scale/probe_clustered_sf0.1,"
    "clu_10x=/tmp/hgn_scale/probe_clustered_10x"
)

TARGET_QUERIES = 400  # bound the standing query set at big scales


def main() -> None:
    scales = [
        tuple(s.split("=", 1))
        for s in (sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SCALES).split(",")
    ]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None

    from recall_probe import (
        _collect_topk,
        _load_vectors,
        _np_exact_topk,
        _stride_index,
        _topk_overlap,
    )

    from hgn_spark.operators.similarity import (
        CAL_TARGET_PCT,
        QUERY_STRIDE,
        TOP_K,
        _ivf_query,
        ivf_adaptive_stride,
        ivf_build_linear,
        ivf_calibrate_nprobe,
    )
    from hgn_spark.registry import clear_session_caches
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="ivf_calibrated_probe")
    builders = {
        "exact_assign": lambda d, n: _stride_index(spark, d, ivf_adaptive_stride(n)),
        "linear": lambda d, n: ivf_build_linear(spark, d, n=n),
    }
    # r14 (VERDICT r13 #4): the 1000x tier runs the PRODUCTION linear
    # builder only — exact_assign's build was already measured
    # superlinear (385 s at 600k, PROBE_ivf_calibrated_r13) and is the
    # evidence twin, not the scale path. IVF_PROBE_BUILDERS=linear
    # selects it without forking the script.
    only = os.environ.get("IVF_PROBE_BUILDERS")
    if only:
        keep = set(only.split(","))
        builders = {k: v for k, v in builders.items() if k in keep}
    out: dict = {
        "probe": "ivf_calibrated_r14",
        "target_pct": CAL_TARGET_PCT,
        "pass_bar": round((CAL_TARGET_PCT - 5) / 100, 2),
        "load_avg_start": round(os.getloadavg()[0], 2),
        "scales": {},
    }
    for label, sf_dir in scales:
        if not os.path.isdir(sf_dir):
            print(f"# skip {label}: missing {sf_dir}", file=sys.stderr)
            continue
        ids, mat = _load_vectors(sf_dir)
        n = len(ids)
        stride = max(QUERY_STRIDE, (n // TARGET_QUERIES // QUERY_STRIDE) * QUERY_STRIDE)
        truth = _np_exact_topk(ids, mat, stride, TOP_K)
        res: dict = {"n": n, "query_stride": stride, "n_queries": len(truth)}
        for name, build in builders.items():
            clear_session_caches(blocking=True)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            emb, cents, assign = build(sf_dir, n)
            assign = assign.localCheckpoint(eager=True)
            t_build = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            np_c = ivf_calibrate_nprobe(emb, cents, assign, n)
            t_cal = round(time.perf_counter() - t0, 2)
            nlist = cents.count()
            t0 = time.perf_counter()
            got = _collect_topk(
                _ivf_query(emb, cents, assign, nprobe=np_c, query_stride=stride)
            )
            t_query = round(time.perf_counter() - t0, 2)
            res[name] = {
                "secs_build": t_build,
                "secs_calibrate": t_cal,
                "secs_query": t_query,
                "nprobe_calibrated": np_c,
                "nlist": nlist,
                "probed_fraction": round(np_c / max(nlist, 1), 4),
                "recall_at_k": _topk_overlap(got, truth, TOP_K),
            }
            assign.unpersist(blocking=True)
            print(f"# {label} {name}: {json.dumps(res[name])}",
                  file=sys.stderr, flush=True)
        out["scales"][label] = res
    bar = out["pass_bar"]
    out["all_above_bar"] = all(
        res[b]["recall_at_k"] >= bar
        for res in out["scales"].values()
        for b in ("exact_assign", "linear")
        if b in res
    )
    js = json.dumps(out)
    print(js)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write(js + "\n")


if __name__ == "__main__":
    main()
