"""100x probe for the remaining heavy driver rows (VERDICT r9 #2) plus
the capped+incremental jaccard composition (VERDICT r9 #1): time each
at sf0.1 and at the k-fold replica slice (scripts/gen_scale_slice.py —
/tmp/hgn_scale/sf10 is the 100x slice) and report per-variant growth
factors.

Scope — exactly the rows r9's judge listed as still topping out at
10x/30x evidence:

- ``jaccard_incremental_cap``: neardup_incremental at the pinned
  CAP_DF — the df-capped batch-vs-standing-index join that IS the
  100 TB ingestion path (the r9 100x probe ran incremental uncapped:
  315.8 s / 100.9x growth; the claim under test is that the capped
  composition holds at-or-below the capped whole-corpus 24.7-26.2x).
- ``minhash_lsh`` / ``simhash``: the two sketch branches the r9 probe
  skipped (SRP was probed; these share the band/chunk bucket-join
  shape so the expectation is linear-or-better).
- ``simsearch_row``: the full 4-variant ANN row. NOTE the row's
  'exact' branch is structurally quadratic at fixed query stride
  (queries grow with the corpus x a full scan each); it exists as the
  recall baseline, not the scale path, so its growth is reported but
  the scale claim rides on the IVF/LSH fractions below.
- ``ivf_seed_probe``: the IVF seed-variant pipeline alone (centroid
  assign + probed lists + exact re-rank) — the production ANN path.
- ``lsh_multiprobe``: the SRP-LSH multiprobe pipeline alone — the
  data-independent ANN path.
- ``pagerank_row`` / ``lpa_row``: fixed-round iterative graph rows
  (work per round is one bucket join + agg — expected linear in
  edges).
- ``hgn_row``: the flagship convergence loop (per-replica isomorphic
  graphs, so rounds-to-converge stays fixed while per-round work
  grows linearly).

Session caches are cleared before every timed run, so each variant
pays its own index/signature/checkpoint build — the single-query
production cost (same protocol as scale_probe_targeted.py).

Usage: python scripts/scale_probe_heavy.py [scaled_dir] [runs] [only,csv]
       (optional 3rd arg: comma-separated variant names to probe —
        used to measure the r10 mitigations without re-running the
        full sweep)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
PER_VARIANT_TIMEOUT = 1800  # s; a scale-path variant must finish far under


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/tmp/hgn_scale/sf10"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from hgn_spark import registry
    from hgn_spark.operators.dedup import (
        CAP_DF,
        SIMHASH_CAP,
        dedup_embedding_neardup_pairs_adaptive,
        dedup_simhash_pairs,
        minhash_lsh_pairs,
        neardup_incremental,
        ngram_jaccard_pairs_capped,
    )
    from recall_probe import _stride_index

    from hgn_spark.operators.similarity import (
        CENTROID_STRIDE,
        _ivf_query,
        emb_count,
        ivf_adaptive_stride,
        load_embeddings,
        lsh_adaptive_bits,
        simsearch_lsh_topk,
    )
    from hgn_spark.registry import clear_session_caches
    from hgn_spark.session import get_spark

    rows = registry.load_all()
    variants = {
        "jaccard_incremental_cap": lambda s, d: neardup_incremental(
            s, d, df_cap=CAP_DF
        ),
        "minhash_lsh": minhash_lsh_pairs,
        "simhash": dedup_simhash_pairs,
        "ivf_seed_probe": lambda s, d: _ivf_query(
            *_stride_index(s, d, CENTROID_STRIDE)
        ),
        "lsh_multiprobe": lambda s, d: simsearch_lsh_topk(s, d),
        "pagerank_row": rows["graph_pagerank"].fn,
        "lpa_row": rows["graph_label_propagation"].fn,
        "hgn_row": rows["hgn_communities"].fn,
        # r10 mitigations for the superlinear findings of this probe's
        # first run (ivf fixed-stride 846.9x, lsh fixed-width 74.2x,
        # simhash fixed-chunk-space 42.7x)
        "ivf_adaptive_probe": lambda s, d: _ivf_query(
            *_stride_index(s, d, ivf_adaptive_stride(emb_count(s, d)))
        ),
        "lsh_adaptive_multiprobe": lambda s, d: simsearch_lsh_topk(
            s, d, n_bits=lsh_adaptive_bits(load_embeddings(s, d).count())
        ),
        "simhash_cap": lambda s, d: dedup_simhash_pairs(
            s, d, bucket_cap=SIMHASH_CAP
        ),
        # r11 production simhash keying: Manku combination buckets
        # (2^24 key space; result-identical to `simhash`); expected
        # at-or-below-linear growth where the chunk scheme hit 42.7x.
        "simhash_manku": lambda s, d: dedup_simhash_pairs(
            s, d, scheme="combo"
        ),
        # whole-corpus guard twins (also in scale_probe_targeted.py) —
        # here so ONE `only` filter can sweep every shipped guard at a
        # deeper slice (the 300x tier, r10)
        f"jaccard_cap_df{CAP_DF}": lambda s, d: ngram_jaccard_pairs_capped(
            s, d, df_cap=CAP_DF
        ),
        "srp_adaptive_bits": dedup_embedding_neardup_pairs_adaptive,
        # quadratic-by-design exact branch inside — runs last so a
        # blowup is recorded as its own timeout, not a probe hang
        "simsearch_row": rows["simsearch_topk_cosine"].fn,
    }
    if len(sys.argv) > 3:
        only = set(sys.argv[3].split(","))
        variants = {k: v for k, v in variants.items() if k in only}
    else:
        # Branch-role gate (VERDICT r10 #4): composite rows that union
        # baseline-for-evidence branches with production ones measure
        # the DELIBERATE scale-killers, not the engine (simsearch_row
        # at 100x: 3118 s, dominated by exact+seed+kmeans). The default
        # sweep skips them; name one explicitly in the `only` arg to
        # probe it anyway.
        from hgn_spark.branches import COMPOSITE_SCALE_UNSAFE

        for name, row in COMPOSITE_SCALE_UNSAFE.items():
            if name in variants:
                print(
                    f"# skipping {name}: composite of row '{row}' carries "
                    "baseline-for-evidence branches (see "
                    "hgn_spark/branches.py); pass it in the only-list to "
                    "probe deliberately",
                    file=sys.stderr,
                )
                variants.pop(name)

    spark = get_spark(app_name="scale_probe_heavy")
    spark.read.parquet(f"{BASE}/nation.parquet").groupBy(
        "n_regionkey"
    ).count().write.format("noop").mode("overwrite").save()

    out: dict[str, dict[str, float | str]] = {}
    for sf_dir, label in ((BASE, "sf0.1"), (scaled, "scaled")):
        times: dict[str, float | str] = {}
        for name, fn in variants.items():
            best: float | None = None
            for _ in range(runs):
                clear_session_caches(blocking=True)
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                try:
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:  # noqa: BLE001 — record, keep probing
                    times[name] = f"ERROR: {type(exc).__name__}"
                    break
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                print(f"# {label} {name}: {dt:.2f}s", file=sys.stderr, flush=True)
                if dt > PER_VARIANT_TIMEOUT / (2 * runs):
                    break  # one slow pass is answer enough; skip repeats
            if name not in times and best is not None:
                times[name] = round(best, 2)
        out[label] = times

    growth = {
        n: round(out["scaled"][n] / out["sf0.1"][n], 1)
        for n in variants
        if isinstance(out["sf0.1"].get(n), float)
        and isinstance(out["scaled"].get(n), float)
    }
    print(
        json.dumps(
            {
                "probe": "heavy_100x",
                "scaled_dir": scaled,
                "base": out["sf0.1"],
                "scaled": out["scaled"],
                "growth_factor": growth,
            }
        )
    )


if __name__ == "__main__":
    main()
