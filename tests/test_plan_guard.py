"""Scale guard: no registered query may plan a cartesian product, and
nested-loop joins are allowed only where a broadcast cross join IS the
algorithm (brute-force cosine scan; IVF centroid assignment, where the
broadcast side is the k≪n centroid set).

This is the automated version of the per-operator `.explain` audit —
a shape that slips a CartesianProduct past review works at sf0.001
and detonates at 100 TB.
"""

from __future__ import annotations

import pytest

from hgn_spark.registry import load_all
from tests.conftest import SF_SMOKE

SPECS = load_all()

# Queries whose BroadcastNestedLoopJoin is the intended physical shape:
# the broadcast side is provably small (40 query vectors / ~60 centroids)
# and the stream side stays partition-parallel.
BNLJ_ALLOWED = {
    # exact + both IVF variants in one merged row: the broadcast side
    # is provably small on every branch (40 query vectors / ~60
    # centroids) and the stream side stays partition-parallel.
    "simsearch_topk_cosine",
    # same argmax-assignment shape: broadcast stride centroids against
    # the corpus scan.
    "dedup_semantic_clusters",
    # r15 bracket-and-sort exact percentile: every nested-loop join is
    # a crossJoin whose broadcast side is a ONE-ROW bound/count frame
    # (the bracket bounds, k_below, the two neighbor keys) — bounded by
    # construction at any scale.
    "sketch_accuracy_report",
}

BATCH_SPECS = [s for n, s in sorted(SPECS.items()) if "streaming" not in n]


def _checkpoint_patch_target():
    """The class whose `localCheckpoint` actually runs. Spark 4 split
    `pyspark.sql.DataFrame` into an abstract parent and a
    `pyspark.sql.classic.dataframe.DataFrame` subclass that OVERRIDES
    localCheckpoint — patching the parent intercepts nothing (found
    r8: the r7 capture was silently empty; test_checkpoint_capture_
    intercepts is the canary that keeps this from regressing)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame  # Spark 4
    except ImportError:  # Spark 3.x: one concrete class
        from pyspark.sql import DataFrame
    return DataFrame


@pytest.fixture()
def checkpoint_plans(monkeypatch, spark):
    """Capture the physical plan of EVERY frame that goes through
    localCheckpoint while a query builds. Without this the guard is
    blind to the iterative algorithms: spec.fn() materializes loop
    bodies eagerly (CheckpointJanitor / SessionMemo), so
    the final explained plan starts at a truncated checkpoint scan and
    a CartesianProduct INSIDE the loop would never reach the
    assertion."""
    DataFrame = _checkpoint_patch_target()

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def patched(self, eager=True, **kw):
        captured.append(
            spark._jvm.PythonSQLUtils.explainString(
                self._jdf.queryExecution(), "formatted"
            )
        )
        return orig(self, eager, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", patched)
    return captured


def test_checkpoint_capture_intercepts(spark, checkpoint_plans):
    """Canary for the capture mechanism itself: a localCheckpoint must
    land in `checkpoint_plans`. If Spark's class layout changes again
    (the Spark-4 classic override made the r7 patch a silent no-op),
    this fails loudly instead of every in-loop plan check passing
    vacuously."""
    df = spark.range(32).selectExpr("id", "id * 2 AS v").localCheckpoint()
    assert df.count() == 32
    assert len(checkpoint_plans) == 1
    assert "Range" in checkpoint_plans[0]


@pytest.mark.parametrize("spec", BATCH_SPECS, ids=[s.name for s in BATCH_SPECS])
def test_no_cartesian_or_stray_nested_loop(spark, spec, checkpoint_plans):
    df = spec.fn(spark, SF_SMOKE)
    final = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for where, plan in [("final", final)] + [
        (f"checkpoint#{i}", p) for i, p in enumerate(checkpoint_plans)
    ]:
        assert "CartesianProduct" not in plan, (
            f"{spec.name} plans a cartesian product ({where})"
        )
        if spec.name not in BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{spec.name} plans a BroadcastNestedLoopJoin ({where}) — "
                f"either add an equi key or justify it in BNLJ_ALLOWED"
            )


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The decon design hinges on the tiny-benchmark/huge-corpus
    asymmetry: the benchmark gram set must arrive as a BroadcastExchange
    feeding a BroadcastHashJoin (never a shuffled corpus-side join), and
    the heavy gram expression must appear exactly once per branch (the
    optimizer has twice replanted it — per exploded row, and into an
    inferred pre-filter below the repartition)."""
    df = SPECS["decontaminate_ngram_overlap"].fn(spark, SF_SMOKE)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan
    # One gram build per branch: exactly two plan NODES may carry the
    # tokenize expression (the corpus-side Project and the bench-side
    # Generate). A third carrier is a regression to per-row re-evaluation
    # or an inferred pre-filter. (The expression is textually inlined
    # many times WITHIN a node, so count nodes, not occurrences.)
    carriers = [
        blk for blk in plan.split("\n\n") if "split(lower(" in blk
    ]
    assert len(carriers) == 2, (
        f"{len(carriers)} plan nodes carry the gram expression: "
        + "; ".join(blk.splitlines()[0] for blk in carriers)
    )


def test_driver_window_composition():
    """The driver verifies exactly the first 50 registry entries. Every
    oracle-backed query must register ahead of every rows-only query;
    with the flagship HGN loop now oracle-backed (unrolled-loop
    oracle), all 50 window slots carry full hash-checked oracles.
    Adding an oracle-backed query without merging an existing pair
    silently drops one out of the window — this pins the contract."""
    specs = load_all()
    names = list(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    assert n_oracle <= 50, (
        f"{n_oracle} oracle-backed queries: merge micro-queries before "
        "adding more, or an oracle-backed query leaves the driver's "
        "50-query window unverified"
    )
    window = set(names[:50])
    assert {"dedup_minhash_lsh_pairs", "hgn_communities"} <= window
    assert all(
        specs[n].oracle is not None for n in names[:n_oracle]
    ), "a rows-only query registered ahead of an oracle-backed one"


def test_bench_headline_covers_driver_window():
    """Every driver-window row must have a recorded bench point
    (VERDICT r8 #2): a regression in an unbenched row is invisible to
    scripts/bench_regression.py. bench.py's HEADLINE list is the
    single source of what gets timed — pin it to the window."""
    import bench

    window = list(load_all())[:50]
    missing = [n for n in window if n not in bench.HEADLINE]
    assert not missing, f"driver rows with no bench point: {missing}"
    unknown = [n for n in bench.HEADLINE if n not in load_all()]
    assert not unknown, f"HEADLINE names not in the registry: {unknown}"


def test_branch_roles_match_reality(spark):
    """hgn_spark.branches.BRANCH_ROLES is the single source of truth
    for which labeled branches of a multi-branch row are
    baseline-for-evidence vs production-at-scale (VERDICT r10 #4:
    ARCHITECTURE renders from it, scale probes consult it). The map
    rots silently if a row renames or adds a branch — so pin that the
    mapped labels are EXACTLY the branch values the row emits, and
    that every row/composite the map names exists."""
    from hgn_spark.branches import (
        BRANCH_ROLES,
        COMPOSITE_SCALE_UNSAFE,
        EVIDENCE,
        PRODUCTION,
    )

    specs = load_all()
    for row, (col, roles, _note) in BRANCH_ROLES.items():
        assert row in specs, f"{row} not registered"
        assert set(roles.values()) <= {EVIDENCE, PRODUCTION}
        got = {
            r[0]
            for r in specs[row].fn(spark, SF_SMOKE).select(col).distinct().collect()
        }
        assert got == set(roles), (
            f"{row}.{col}: map says {sorted(roles)} but the row emits "
            f"{sorted(got)}"
        )
        # Every multi-branch row with a measured scale-killer must ship
        # at least one production-at-scale branch.
        assert PRODUCTION in roles.values(), f"{row} has no production branch"
    for composite, row in COMPOSITE_SCALE_UNSAFE.items():
        assert row in BRANCH_ROLES, (
            f"composite {composite} points at unmapped row {row}"
        )
