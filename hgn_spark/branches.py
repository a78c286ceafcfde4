"""Branch-role registry (VERDICT r10 #4): which labeled branches of a
multi-branch driver row are BASELINE-FOR-EVIDENCE (kept so the driver
hash-proves a scale-killer or ground truth against its mitigation —
deliberately NOT runnable at probe scale) vs PRODUCTION-AT-SCALE (the
path a 100 TB deployment runs, probed at 100x/300x).

This is the single source of truth: ARCHITECTURE.md's table is
rendered from it (``python -m hgn_spark.branches``), the scale probes
consult it before timing a composite row
(scripts/scale_probe_heavy.py warns-and-skips composites whose
evidence baselines would dominate the probe unless they are selected
explicitly), and tests/test_plan_guard.py asserts the labels match
the rows' actual branch values so the map cannot rot.

Rows absent from this map are single-path: their registered query IS
the production shape.
"""

from __future__ import annotations

EVIDENCE = "baseline-for-evidence"
PRODUCTION = "production-at-scale"

# row name -> (branch column, {branch label -> role}, note)
BRANCH_ROLES: dict[str, tuple[str, dict[str, str], str]] = {
    "simsearch_topk_cosine": (
        "variant",
        {
            # exact: the recall ground truth — structurally quadratic
            # (queries grow with the corpus x a full scan each).
            "exact": EVIDENCE,
            # seed/kmeans: fixed CENTROID_STRIDE -> nlist ~ n -> n^2
            # assign; measured 846.9x at 100x (PROBE_100x_heavy_r10).
            "seed": EVIDENCE,
            "kmeans": EVIDENCE,
            # lsh: pinned LSH_BITS -> candidates ~ n^2/2^bits; 74.2x
            # at 100x.
            "lsh": EVIDENCE,
            # ivf_adaptive: sqrt-n centroids retire the n^2 assign,
            # but its own exact argmax still grows n x sqrt(n) — the
            # QUERY-side production dial; the BUILD-side production
            # path is ivf_linear. r13: nprobe is RECALL-CALIBRATED on
            # the built index (ivf_calibrate_nprobe, target 90%) —
            # PROBE_ivf_build_r12 measured every fixed nprobe's recall
            # decaying with n (0.95 -> 0.44-0.51 at 100x) because
            # nlist ~ sqrt(n) makes a pinned dial probe a shrinking
            # fraction of lists.
            # Corpus-shape caveat (r14, from PROBE_ivf_calibrated_r13):
            # on ISOTROPIC data the calibrated dial honestly comes
            # back large (~0.3*nlist probed) — IVF buys only ~3x over
            # brute force there, because structureless vectors give
            # centroids no locality to exploit. On clustered corpora
            # the same calibration probes 0.13-0.26 of lists at equal
            # recall. The production label assumes real embedding
            # corpora (clustered); deployments with near-isotropic
            # vectors should expect the ~3x, not the clustered ~8x.
            "ivf_adaptive": PRODUCTION,
            "lsh_adaptive": PRODUCTION,
            # ivf_linear (r12): the linear-build topology (sampled
            # Lloyd + SRP-bucket assign + rescue) driver-hashed —
            # PROBE_ivf_build: 0.94x build growth per 3x data vs 4.68x
            # for the exact assign. r13: same calibrated nprobe as
            # ivf_adaptive, sized on ITS index (the approximate assign
            # shifts the curve, so each index calibrates itself).
            "ivf_linear": PRODUCTION,
        },
        "ANN row; adaptive branches probed at 100x/300x "
        "(PROBE_100x_mitigations_r10, PROBE_300x_guards_r10); "
        "recall/knob trade in PROBE_recall_r11; linear-build recall "
        "sweep in PROBE_ivf_build_r12.",
    ),
    "dedup_minhash_lsh_pairs": (
        "method",
        {
            # minhash: band space scales with the corpus via band
            # hashes (19.9x runtime at 100x — at-scale-linear), but
            # DEMOTED r14: the pinned 16-perm/4-band S-curve tops out
            # at ~0.875 collision at the JACCARD_THRES=0.8 it filters
            # by. (r14 also FIXED the permutation family the whole
            # minhash family shares: the old 2^61-1 mix with a < 2^15
            # barely wrapped the modulus, correlating minima across
            # bands — r13 measured 0.83-0.86 where theory said 0.90;
            # with the GF(2^31-1) full-range mix the same sketch
            # measures 0.90/0.899 at J>=0.8 — exactly its own theory,
            # which is still below the 0.95 family bar.) Kept as the
            # pinned-dial evidence twin.
            "minhash": EVIDENCE,
            # minhash_recall (r14): the srp_recall treatment —
            # minhash_recall_perms solves bands for the stated
            # (J=0.8, R=0.95) point -> 24 perms / 6 bands, expected
            # 0.958 at the threshold itself. PROBE_text_clustered_r14
            # (post family fix) measures the J>=0.80 stratum at
            # 1.0 / 0.9899 on the 6k / 20k mega-bucket corpora and
            # 1.0 everywhere above — at and over the design point.
            # Collision probability is n-independent (set
            # resemblance), so unlike SRP no corpus-growth dial is
            # needed.
            "minhash_recall": PRODUCTION,
            # simhash: FIXED 4 x 2^12 chunk space -> candidates
            # ~n^2/4096; 42.7x at 100x.
            "simhash": EVIDENCE,
            # simhash_cap: DEMOTED r11 — PROBE_recall_r11 measured the
            # fixed cap's recall at 0.0 by 10x (fixed bucket space
            # means every bucket outgrows any fixed cap); kept as the
            # guard-shape evidence twin.
            "simhash_cap": EVIDENCE,
            # simhash_manku: C(6,3)=20 combination tables, 24-bit
            # keys — result-identical to `simhash` by pigeonhole
            # (driver-hashed against the same oracle), bucket space
            # 4096x the chunk scheme's.
            "simhash_manku": PRODUCTION,
            # srp: pinned 16-bit signature -> candidates ~n^2/256;
            # 361x at 30x (r9).
            "srp": EVIDENCE,
            # srp_adaptive: DEMOTED r12 — the adaptive width holds
            # candidate VOLUME constant, but PROBE_recall_r12's
            # planted cos>=0.9 pairs measured recall at the claimed
            # operating point decaying with growth (0.50 base ->
            # 0.17 at 10x -> 0.15 at 30x). Kept as the volume-dial
            # evidence twin.
            "srp_adaptive": EVIDENCE,
            # srp_recall (r12): recall-targeted multi-band sizing
            # (srp_recall_bands) — measured 1.0/0.96/0.97 recall at
            # cos>=0.9 across sf0.1/10x/30x, flat under growth, for
            # b ~ n^0.22 bands. r13: the silent 64-band cap (which
            # revoked the design recall past n ~ 2^20) is replaced by
            # an explicit SRP_MAX_BANDS=256 budget that WARNS with the
            # quantified effective recall when it binds (~5*10^8
            # vectors at cos 0.9 / R 0.95); shortfall measured at a
            # binding-region tier in PROBE_srp_cap_r13.
            "srp_recall": PRODUCTION,
        },
        "Sketch row; capped/adaptive twins probed at 100x/300x; "
        "recall of each guard vs its uncapped twin in "
        "PROBE_recall_r11; srp operating-point recall (planted "
        "cos>=0.9 pairs) in PROBE_recall_r12.",
    ),
    "dedup_ngram_jaccard_pairs": (
        "op",
        {
            # all/vs_corpus/in_batch: exact-jaccard truth over the
            # UNCAPPED inverted index — correct at any scale the
            # shingle df distribution allows, but mega-buckets are
            # unguarded; the capped twins are what ships against
            # adversarial corpora.
            "all": EVIDENCE,
            "vs_corpus": EVIDENCE,
            "in_batch": EVIDENCE,
            "cap": PRODUCTION,
            "vs_corpus_cap": PRODUCTION,
            "in_batch_cap": PRODUCTION,
        },
        "Exact-jaccard row; PROBE_recall_r11 sizes the production "
        "df_cap (the driver-evidence CAP_DF=2 keeps hash-proof "
        "non-vacuous at sf0.01 but is NOT a production value). r13: "
        "PROBE_text_clustered_r13 measures the capped path at recall "
        "1.0 in every stratum ON the mega-bucket distribution the cap "
        "exists for (boilerplate df 300/1000 >> cap 16), with the "
        "dispatch choosing it automatically.",
    ),
}

# Composite registered rows whose callable unions evidence baselines
# with production branches — a scale probe that times the WHOLE row
# measures the deliberate scale-killers, not the engine
# (simsearch_row at 100x: 3118 s, dominated by exact+seed+kmeans).
COMPOSITE_SCALE_UNSAFE = {
    "simsearch_row": "simsearch_topk_cosine",
}


def render_table() -> str:
    """Markdown table for ARCHITECTURE.md."""
    lines = [
        "| row | branch column | branch | role | note |",
        "|---|---|---|---|---|",
    ]
    for row, (col, roles, note) in BRANCH_ROLES.items():
        first = True
        for label, role in roles.items():
            lines.append(
                f"| {row if first else ''} | {col if first else ''} "
                f"| `{label}` | {role} | {note if first else ''} |"
            )
            first = False
    return "\n".join(lines)


if __name__ == "__main__":
    print(render_table())
