"""The HGN divisive community-detection loop (SURVEY §2.9 G11-G12, §3.1).

Orchestrates the pieces exactly as the reference's main loop does
(main.py:144-213): cosine similarities and truncated betweenness once
up front (the cacheable init step, main.py:243-258), then per
iteration r-metrics → hybrid edge weights → deletion rule → anti-join,
until no edge qualifies or max_steps is hit. Communities are the final
connected components.

Deliberate divergences from the reference (each documented in SURVEY §8):

- §8.1 the force-keep union could duplicate edges — we never re-add
  keepit edges (the anti-join already kept them), so no duplicates;
- §8.2 betweenness defaults to correct GN fractional counting
  (compat flag available in betweenness.edge_betweenness);
- canonical src<dst edges + canonical betweenness mean ONE deletion
  join instead of the reference's both-orientation pair (main.py:130-134)
  and ONE anti-join instead of two (main.py:201-205);
- lineage is truncated with localCheckpoint per iteration instead of a
  parquet write+read (spark_manager.py:215-231).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor
from hgn_spark.graph.betweenness import edge_betweenness
from hgn_spark.graph.components import connected_components
from hgn_spark.graph.core import canonicalize, drop_isolated_vertices, symmetrize
from hgn_spark.graph.rmetrics import (
    _common_member_rows,
    _endpoints,
    _tagged_pairs2,
    r_metrics_edges_pairs,
)
from hgn_spark.graph.weights import (
    hybrid_edge_weights_members,
    one_hot_cosine_similarities,
)


# Size of a step's shared 2-hop pair table, measured (4-core machine,
# 6 GB local driver) on the derived graph at sf0.1 and its 10x/100x
# slices (2,824 / 28,240 / 282,400 edges): 11.99 pair rows per edge at
# every size, 92 B per row in the block store deserialized, 10.5 B
# serialized.
_PAIR_ROWS_PER_EDGE = 12
_PAIR_ROW_BYTES_DESER = 92

# Gates of the scoped delete rule, measured on the 1000x cascade
# (ARCHITECTURE "Incremental delete rule at 1000×"). A step scores only
# the edges near the previous step's deletions when that step deleted
# under 2% of the edges: 1.6% deleted put 30% of the edges in scope and
# scored ~1.4x faster than all edges, 2.7% put 49% in scope (parity),
# 9% put 84% (slower). A built scope of 1/3 of the edges or more is
# released and the step scores all edges: from ~50% scope the scoped
# step costs as much as full scoring or more. The deletions are the
# same either way.
_SCOPE_MAX_DELETED_FRACTION = 0.02
_SCOPE_MAX_EDGE_FRACTION = 1 / 3


def _pair_table_storage(spark: SparkSession, n_edges: int) -> StorageLevel:
    """Storage level for a step's pair table on an ``n_edges`` graph.

    Deserialized (Spark's default) unless its estimated size exceeds
    the storage share of the block managers' memory that execution
    cannot evict (``spark.memory.storageFraction`` of the unified
    pool); then serialized, which spills instead. Serialized costs
    every scan a deserialization: +7% median task CPU on a 9,000-edge
    graph (~5 scans per step); on the 282,400-edge 100x slice two
    alternating runs of each did not separate the two. A held
    deserialized table is memory the step's joins lose: at the 1000x
    slice (~3.1 GB estimated, 85% of a 6 GB driver's 3.7 GB pool) the
    cascade probe's scoped run went out of heap. Local mode has one
    block manager, the driver's; on a cluster the driver's share is
    counted too, though it holds no partitions."""
    est = _PAIR_ROWS_PER_EDGE * _PAIR_ROW_BYTES_DESER * n_edges
    pool = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().values()
    it = pool.iterator()
    pool_bytes = 0
    while it.hasNext():
        pool_bytes += int(it.next()._1())
    frac = float(spark.conf.get("spark.memory.storageFraction", "0.5"))
    if est <= frac * pool_bytes:
        return StorageLevel.MEMORY_AND_DISK_DESER
    return StorageLevel.MEMORY_AND_DISK


@dataclass
class HGNParams:
    """Knobs mirroring the reference's run_options config section
    (confs/quakers.yml:55-68)."""

    r_lvl1_thres: float = 0.5
    r_lvl2_thres: float = 0.5
    max_edge_weight: float = 0.5
    betweenness_thres: float = 5.0
    feature_min_avg: float = 0.5
    max_steps: int = 10
    max_sp_length: int = 2
    min_comp_size: int = 1


def hgn_communities(
    vertices: DataFrame,
    edges: DataFrame,
    feature_cols: list[str],
    params: HGNParams | None = None,
    phase_timings: dict[str, float] | None = None,
    edges_canonical: bool = False,
) -> DataFrame:
    """Run the full loop → (id, component).

    ``vertices``: (id, *features); ``edges``: (src, dst) any orientation.

    ``phase_timings`` (r12, VERDICT r11 #7): pass a dict to receive
    wall-clock attribution per phase — init_sims / init_betweenness /
    loop_delete_rule / loop_anti_join (the loop keys accumulate across
    iterations; n_steps records how many ran) and final_cc. Every
    phase boundary is an EAGER checkpoint (whose own job also yields
    the loop's row counts), so the numbers are true materialization
    costs, not lazy-plan noise; instrumentation costs two
    time.perf_counter() calls per phase and
    nothing when the dict is omitted. Per step it also records
    loop_delete_rule_per_step, n_deleted_per_step, n_scored_per_step
    and, from step 2, n_scope_per_step (None where the scope was not
    built); the cascade probe (scripts/scale_probe_hgn_cascade.py)
    reads them.
    """
    import time as _time

    p = params or HGNParams()
    t = phase_timings

    def _mark(key: str, t0: float) -> float:
        dt = _time.perf_counter() - t0
        if t is not None:
            t[key] = round(t.get(key, 0.0) + dt, 3)
        return dt

    with CheckpointJanitor(edges.sparkSession) as jan:
        t0 = _time.perf_counter()
        # ``edges_canonical``: caller guarantees src < dst distinct rows
        # (e.g. derived_edges), so canonicalize's dedup exchange is a no-op
        # and the init checkpoint materializes the input directly.
        # Every edge generation's row count comes from its own checkpoint
        # job (CheckpointJanitor.counted) — the loop's gates never pay a
        # separate count() barrier.
        e, n_edges, _ = jan.counted(
            edges.select("src", "dst") if edges_canonical else canonicalize(edges)
        )
        _mark("init_canonicalize", t0)

        # --- init step (computed once, like main.py:243-258) ---------------
        # r14 (guide §2.6): the similarity and betweenness init frames both
        # read the materialized `e` and nothing of each other — run their
        # eager checkpoints concurrently on the one janitor (its held
        # map is locked; attribution is per call). Both are released
        # when the block exits. Phase timings record each chain's own
        # wall clock (they overlap).
        from concurrent.futures import ThreadPoolExecutor

        def _init_sims():
            t0 = _time.perf_counter()
            s = one_hot_cosine_similarities(e, vertices, feature_cols)
            # Symmetrize similarities so common-neighbor membership checks
            # see both orientations; the hybrid ratio is invariant to the
            # doubling (numerator and denominator scale together).
            out = jan.checkpoint(
                s.union(
                    s.select(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        "similarity",
                    )
                )
            )
            _mark("init_sims", t0)
            return out

        def _init_betw():
            t0 = _time.perf_counter()
            # INVARIANT (ADVICE r13 #4): betweenness is computed ONCE here,
            # on the initial edge set, and never refreshed inside the loop —
            # the reference does the same (main.py:243-258).
            # The scoped delete rule's soundness DEPENDS on this: with
            # init-once betweenness (and init-once sims), an untouched
            # edge's delete condition is time-invariant, so a step may
            # re-score only edges whose endpoint neighborhoods the
            # previous deletions changed. If a future change recomputes
            # betweenness per step, every survivor's condition can flip
            # and the scope becomes unsound — a per-step betweenness
            # refresh must shut the scope gates.
            out = jan.checkpoint(
                edge_betweenness(
                    e, max_sp_length=p.max_sp_length, edges_canonical=True
                )
            )
            _mark("init_betweenness", t0)
            return out

        with ThreadPoolExecutor(max_workers=2) as _pool:
            _f_sims = _pool.submit(_init_sims)
            _f_betw = _pool.submit(_init_betw)
            sims = _f_sims.result()
            betw = _f_betw.result()

        # --- main loop ------------------------------------------------------
        # One delete rule, scored in pair form (PROBE_hgn_subphase_r13):
        # score once, CHECKPOINT the small candidate list, then expand
        # common members for the candidates only — the full-edge member
        # expansion is the phase's dominant term (49M rows at 1000x) and
        # Catalyst would re-run the scored plan per consumer without the
        # materialization barrier.
        #
        # A step may score only the edges with an endpoint within
        # distance 1 of the previous step's deleted endpoints (`scope`,
        # seeded by `aff_v`). Sound because an edge's metrics depend only
        # on its endpoints' level-1/2 neighborhoods, which deleting
        # (a, b) changes exactly for vertices within distance 1 of
        # {a, b}: every other survivor keeps the scores that already
        # passed the rule last step, so the step's deletions are a
        # subset of the scope. The two gates (_SCOPE_MAX_*) decide when
        # the scope is built and kept; communities are identical either
        # way (pinned by test).
        aff_v = None  # scope seed, built only for a step that reads it
        for _step in range(1, p.max_steps + 1):
            if t is not None:
                t["n_steps"] = _step
            t0 = _time.perf_counter()
            scope = n_scope = None
            if aff_v is not None:
                scope, n_scope, _ = jan.counted(
                    e.join(aff_v.withColumnRenamed("id", "src"), "src", "left_semi")
                    .unionByName(
                        e.join(
                            aff_v.withColumnRenamed("id", "dst"), "dst", "left_semi"
                        )
                    )
                    .distinct()
                )
                jan.release(aff_v)
                aff_v = None
                if n_scope >= _SCOPE_MAX_EDGE_FRACTION * n_edges:
                    jan.release(scope)
                    scope = None
            if t is not None:
                if _step > 1:
                    t.setdefault("n_scope_per_step", []).append(n_scope)
                # |edges actually scored| this step — what the step's
                # delete-rule cost scales with.
                t.setdefault("n_scored_per_step", []).append(
                    n_scope if scope is not None else n_edges
                )
            # The step's ONE 2-hop expansion: the tagged level-2 pair
            # table (source-restricted to the scope's endpoints when
            # scoped), materialized once and read by BOTH consumers —
            # the r-metric scoring and the candidates' common-member
            # expansion for the hybrid weights — so the 2-hop self-join
            # runs once per step, not once per consumer. It is held
            # until the step's deletion set is materialized and is the
            # loop's largest generation (~12x |e| rows on the derived
            # graph); one too large for the block store is stored
            # serialized (see _pair_table_storage).
            # e is canonical by construction (canonicalize at init;
            # anti-join deletion preserves it) — every symmetrize in the
            # scoring path may skip its dedup exchange.
            pt = jan.checkpoint(
                _tagged_pairs2(
                    e,
                    sources=_endpoints(scope) if scope is not None else None,
                    edges_canonical=True,
                ),
                storage_level=_pair_table_storage(e.sparkSession, n_edges),
            )
            scored = r_metrics_edges_pairs(
                scope if scope is not None else e, pt, p.r_lvl1_thres, p.r_lvl2_thres
            )
            cand = jan.checkpoint(scored.filter(~F.col("keepit")).select("src", "dst"))
            weights = hybrid_edge_weights_members(
                _common_member_rows(cand, pt), sims, p.feature_min_avg
            )
            # Canonical edges → single equi-join against canonical betweenness
            # (the reference probes both orientations, main.py:130-134). Its
            # row count — the loop control — comes from the checkpoint job.
            to_delete, n_del, _ = jan.counted(
                weights.join(betw, ["src", "dst"], "inner")
                .filter(
                    (F.col("edge_weight") < p.max_edge_weight)
                    | (
                        (F.col("edge_weight") >= p.max_edge_weight)
                        & (F.col("betweenness") > p.betweenness_thres)
                    )
                )
                .select("src", "dst")
            )
            dt = _mark("loop_delete_rule", t0)
            if t is not None:
                # Per-step breakdown (r14, VERDICT r13 #1): the cascade
                # probe needs step-2+ cost separately from the accumulated
                # total to show the scoped step's cost scaling with
                # |scope| instead of |E|. n_deleted_per_step gives the
                # cascade shape alongside.
                t.setdefault("loop_delete_rule_per_step", []).append(round(dt, 3))
                t.setdefault("n_deleted_per_step", []).append(n_del)
            # The pair table and candidate list fed to_delete, now
            # materialized — free them.
            jan.release(pt, cand, scope)
            if n_del == 0:
                jan.release(to_delete)
                break
            t0 = _time.perf_counter()
            new_e, n_edges, _ = jan.counted(
                e.join(to_delete, ["src", "dst"], "left_anti")
            )
            _mark("loop_anti_join", t0)
            if _step < p.max_steps and n_del < _SCOPE_MAX_DELETED_FRACTION * n_edges:
                # The next step's pre-gate is open (n_edges is the count it
                # reads): seed its scope with the deleted endpoints plus
                # their neighbors in the pre-deletion generation — exactly
                # the vertices whose level-1/2 neighborhoods the deletion
                # changes.
                dv = (
                    to_delete.select(F.col("src").alias("id"))
                    .unionByName(to_delete.select(F.col("dst").alias("id")))
                    .distinct()
                )
                nb = (
                    symmetrize(e, assume_canonical=True)
                    .join(dv.withColumnRenamed("id", "src"), "src", "left_semi")
                    .select(F.col("dst").alias("id"))
                )
                aff_v = jan.checkpoint(dv.unionByName(nb).distinct())
            # Iteration N's edge set is materialized: its inputs — the
            # previous generation and this round's deletion set — can never
            # be read again. Free them now so the loop carries ONE edge
            # generation instead of O(max_steps) (bounded memory at scale;
            # locally this kept multi-second cleanup pauses out of whatever
            # query runs after the loop).
            jan.release(e, to_delete)
            e = new_e

        t0 = _time.perf_counter()
        survivors = drop_isolated_vertices(
            vertices.select("id"), e, edges_canonical=True
        )
        out = connected_components(e, survivors, edges_canonical=True)
        _mark("final_cc", t0)
        # The returned plan references the final edge generation lazily
        # (survivors join + CC mapping): it is the caller's result. The
        # init-step similarity and betweenness checkpoints are dead
        # weight from here; the block's exit frees them.
        jan.keep(e)
        return out
