"""The HGN divisive community-detection loop (SURVEY §2.9 G11-G12, §3.1).

Orchestrates the pieces exactly as the reference's main loop does
(main.py:144-213): cosine similarities and truncated betweenness once
up front (the cacheable init step, main.py:243-258), then per
iteration r-metrics → hybrid edge weights → deletion rule → anti-join,
until no edge qualifies or max_steps is hit. Communities are the final
connected components.

One loop, two step bodies. Every step opens with the same check: its
edge generation's estimated in-process working set, linear in the
edges and in Σ deg(v)² (a bound on the level-2 set entries the
in-process rule holds), against _DRIVER_FINISH_BUDGET_BYTES. Until a
generation fits, a step is a chain of Spark jobs with an eager
checkpoint at every phase boundary. Once one fits, the driver takes
over: it collects the edge generation and the init frames once, holds
the adjacency to the end, and runs this step and the remaining ones in
plain Python (a step costs milliseconds instead of Spark's per-job
driver cost). The final components run where the last step ran: Spark
components, or union-find on the driver. Init always runs in Spark.
Both bodies delete the same edges in every step: every value the
delete rule compares is a double Spark computed (collected, never
recomputed) or a ratio of two integer counts, one correctly rounded
division on either side.

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

import time as _time
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor
from hgn_spark.graph.betweenness import edge_betweenness
from hgn_spark.graph.components import connected_components
from hgn_spark.graph.core import (
    _tagged_pairs2,
    canonicalize,
    drop_isolated_vertices,
    symmetrize,
)
from hgn_spark.graph.rmetrics import (
    _common_member_rows,
    _endpoints,
    r_metrics_edges_pairs,
)
from hgn_spark.graph.weights import (
    hybrid_edge_weights_members,
    one_hot_cosine_similarities,
)


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

# Driver-memory budget of the in-process finish (ARCHITECTURE
# "In-process finish within a driver-memory budget"): a step whose edge
# generation's estimated working set fits it collects the generation,
# the init similarities and betweenness once and runs this step, the
# remaining ones and the final components on the driver. The estimate
# is linear in the edges (their adjacency, similarity and betweenness
# entries) and in Σ_v deg(v)² (`_level2_bound`, which bounds the
# level-2 set entries), so it follows degree skew, not just the edge
# count. The rates fit the driver process's peak growth over the
# in-process finish, measured with scripts/scale_probe_hgn_cascade.py
# (4-core machine): least squares gives ~1,070-1,130 B per edge and
# ~32-33 B per unit of Σ deg² over the derived graph's 10x/100x/1000x
# slices and two preferential-attachment graphs with hubs; rounded up,
# every measured growth is under its estimate (4,275 MB against
# 4,443 MB at the 1000x slice). The in-process finish won on time at
# every size measured, 1000x included (167 s against 572 s for the
# Spark steps), so the budget, not a crossover, is what bounds it: past
# it the driver would hold gigabytes of Python sets where the Spark
# loop spills and scales out.
_DRIVER_FINISH_BUDGET_BYTES = 1 << 30
_DRIVER_FINISH_BYTES_PER_EDGE = 1_100
_DRIVER_FINISH_BYTES_PER_LEVEL2 = 40


def _driver_finish_bytes(n_edges: int, level2: int) -> int:
    """Estimated driver working set of the in-process finish on a
    generation of ``n_edges`` edges whose Σ deg² is ``level2``."""
    return (
        _DRIVER_FINISH_BYTES_PER_EDGE * n_edges
        + _DRIVER_FINISH_BYTES_PER_LEVEL2 * level2
    )


def _driver_delete_rule(
    adj: dict[int, set[int]],
    sim_all: dict[int, set[int]],
    sim_hit: dict[int, set[int]],
    betw: dict[tuple[int, int], float],
    p: HGNParams,
) -> list[tuple[int, int]]:
    """One step of the delete rule over plain Python sets → the
    canonical (src, dst) edges to delete. ``adj`` is the symmetric
    adjacency of the current generation; ``sim_all``/``sim_hit`` map a
    vertex to the other endpoints of its (both-orientation) init
    similarity edges, all of them / those at or above
    ``feature_min_avg``; ``betw`` is the init betweenness.

    The same rule as the Spark step: r-metrics from the level-1
    (adjacent) and level-2 (adjacent ∪ two-hop, minus the vertex)
    sets, the common level-2 members of every candidate (keepit false)
    without its endpoints, the hybrid weight as hits / similarity
    edges inside that member set (no weight, no deletion), and the
    weight/betweenness rule against the init betweenness (no
    betweenness, no deletion). Every compared value is a double Spark
    computed (similarity, betweenness) or a ratio of two integer
    counts, one correctly rounded division here as in Spark, so the
    deletions are the Spark step's. Every endpoint has degree >= 1, so
    the scorer's zero-count guard never fires."""
    lvl2 = {}
    for v, nv in adj.items():
        s = set(nv).union(*(adj[w] for w in nv))
        s.discard(v)
        lvl2[v] = s
    r1, r2 = p.r_lvl1_thres, p.r_lvl2_thres
    mw, bt = p.max_edge_weight, p.betweenness_thres
    out = []
    for src, ns in adj.items():
        ls = lvl2[src]
        for dst in ns:
            if dst < src:
                continue  # each canonical edge once
            nd, ld = adj[dst], lvl2[dst]
            cc1 = len(ns & nd)
            members = ls & ld
            members.discard(src)
            members.discard(dst)
            cc2 = len(members)
            if (
                cc1 / len(ns) > r1
                or cc1 / len(nd) > r1
                or cc2 / len(ls) > r2
                or cc2 / len(ld) > r2
            ):
                continue  # keepit
            total = hits = 0
            for x in members:
                if x in sim_all:
                    total += len(sim_all[x] & members)
                    hits += len(sim_hit[x] & members)
            b = betw.get((src, dst))
            if total == 0 or b is None:
                continue
            # Spark's (w < mw) | ((w >= mw) & (b > bt)); w is never NaN
            if hits / total < mw or b > bt:
                out.append((src, dst))
    return out


def _min_label_components(adj: dict[int, set[int]]) -> dict[int, int]:
    """Union-find over a symmetric adjacency → {vertex: min vertex id
    of its component} for every vertex with an edge."""
    parent = {v: v for v, nv in adj.items() if nv}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, nu in adj.items():
        for v in nu:
            a, b = find(u), find(v)
            if a != b:
                # the smaller root wins, so every root is its
                # component's minimum
                if a < b:
                    parent[b] = a
                else:
                    parent[a] = b
    return {v: find(v) for v in parent}


def _collect_adjacency(e: DataFrame) -> dict[int, set[int]]:
    """Collect an edge generation as Arrow (no Python workers) → its
    symmetric adjacency."""
    adj: dict[int, set[int]] = {}
    tbl = e.toArrow()
    for u, v in zip(tbl["src"].to_pylist(), tbl["dst"].to_pylist()):
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


def _level2_bound(adj: dict[int, set[int]]) -> int:
    """Σ_v deg(v)² of a symmetric adjacency. It equals
    Σ_v Σ_{w∈N(v)} deg(w), and v's level-2 set (N(v) and every N(w),
    minus v) has at most Σ_{w∈N(v)} deg(w) members, so it bounds the
    level-2 entries `_driver_delete_rule` holds."""
    return sum(len(nv) ** 2 for nv in adj.values())


def _collect_init(
    sims: DataFrame, betw: DataFrame, feature_min_avg: float
) -> tuple[dict, dict, dict]:
    """Collect the init similarities and betweenness as Arrow → the
    (sim_all, sim_hit, betw) inputs of `_driver_delete_rule`."""
    sim_all: dict[int, set[int]] = {}
    sim_hit: dict[int, set[int]] = {}
    tbl = sims.toArrow()
    for x, y, sim in zip(
        tbl["src"].to_pylist(), tbl["dst"].to_pylist(), tbl["similarity"].to_pylist()
    ):
        sim_all.setdefault(x, set()).add(y)
        hit = sim_hit.setdefault(x, set())
        if sim >= feature_min_avg:
            hit.add(y)
    tbl = betw.toArrow()
    bw = dict(
        zip(
            zip(tbl["src"].to_pylist(), tbl["dst"].to_pylist()),
            tbl["betweenness"].to_pylist(),
        )
    )
    return sim_all, sim_hit, bw


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

    ``phase_timings``: pass a dict to receive wall-clock attribution
    per phase (``None``, the default, records into a throwaway dict) —
    init_sims / init_betweenness / loop_delete_rule / loop_anti_join
    (the loop keys accumulate across iterations; n_steps records how
    many ran, set as each step starts) and final_cc. In a Spark step
    every phase boundary is an EAGER checkpoint (whose own job also
    yields the loop's row counts), so the numbers are true
    materialization costs, not lazy-plan noise; the step in which the
    driver takes over bills its collects to itself, and so does a Spark
    step whose edge collect found the generation over the budget.
    Instrumentation costs two time.perf_counter() calls per phase. Per
    step it also records loop_delete_rule_per_step, n_deleted_per_step,
    n_scored_per_step and, from step 2, n_scope_per_step (None where
    the scope was not built, as in every in-process step); the cascade
    probe (scripts/scale_probe_hgn_cascade.py) reads them.
    """
    p = params or HGNParams()
    t = {} if phase_timings is None else phase_timings

    def _mark(key: str, t0: float) -> float:
        dt = _time.perf_counter() - t0
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
        # map is locked; each checkpoint reads its own RDD id, so the
        # two chains' jobs overlap). Both are released when the block
        # exits. Phase timings record each chain's own wall clock (they
        # overlap).
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
            # INVARIANT: betweenness is computed ONCE here, on the initial
            # edge set, and never refreshed inside the loop — the
            # reference does the same (main.py:243-258). Two parts of
            # the loop DEPEND on this (and on init-once sims):
            # - the scoped delete rule: an untouched edge's delete
            #   condition is time-invariant, so a step may re-score only
            #   edges whose endpoint neighborhoods the previous deletions
            #   changed;
            # - the in-process steps: they collect the similarities and
            #   betweenness once, when the driver takes over, and score
            #   every later step against that copy.
            # A per-step betweenness refresh must therefore shut both the
            # scope gates and the in-process steps.
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
        # A Spark step scores in pair form (PROBE_hgn_subphase_r13):
        # score once, CHECKPOINT the small candidate list, then expand
        # common members for the candidates only — the full-edge member
        # expansion is the phase's dominant term (49M rows at 1000x) and
        # Catalyst would re-run the scored plan per consumer without the
        # materialization barrier.
        #
        # A Spark step may score only the edges with an endpoint within
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
        adj = None  # the driver's adjacency, held from the hand-off on
        for step in range(1, p.max_steps + 1):
            t["n_steps"] = step
            t0 = _time.perf_counter()
            # Σ deg² >= Σ deg = 2·n_edges, and n_edges came from the last
            # checkpoint: a generation too large for the in-process steps
            # is ruled out without a job. Below that, the edge collect
            # (16 B per edge) decides, and is kept if the driver takes
            # over.
            budget = _DRIVER_FINISH_BUDGET_BYTES
            if adj is None and _driver_finish_bytes(n_edges, 2 * n_edges) <= budget:
                adj = _collect_adjacency(e)
                if _driver_finish_bytes(n_edges, _level2_bound(adj)) <= budget:
                    init = _collect_init(sims, betw, p.feature_min_avg)
                    jan.release(aff_v)
                    aff_v = None
                else:
                    adj = None
            scope = n_scope = None
            if adj is not None:
                to_delete = _driver_delete_rule(adj, *init, p)
                n_del = len(to_delete)
            else:
                if aff_v is not None:
                    scope, n_scope, _ = jan.counted(
                        e.join(
                            aff_v.withColumnRenamed("id", "src"), "src", "left_semi"
                        )
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
                # The step's ONE 2-hop expansion: the tagged level-2 pair
                # table (source-restricted to the scope's endpoints when
                # scoped), materialized once and read by BOTH consumers —
                # the r-metric scoring and the candidates' common-member
                # expansion for the hybrid weights — so the 2-hop self-join
                # runs once per step, not once per consumer. It is held
                # until the step's deletion set is materialized and is the
                # loop's largest generation (11.99 rows per edge on the
                # derived graph, 46.5-83.8 on preferential-attachment
                # graphs with hubs), so it is stored serialized (10.5 B a
                # row against 92 B deserialized) and spills rather than
                # taking the heap the step's joins need.
                # e is canonical by construction (canonicalize at init;
                # anti-join deletion preserves it) — every symmetrize in the
                # scoring path may skip its dedup exchange.
                pt = jan.checkpoint(
                    _tagged_pairs2(
                        e,
                        sources=_endpoints(scope) if scope is not None else None,
                        edges_canonical=True,
                    ),
                    storage_level=StorageLevel.MEMORY_AND_DISK,
                )
                scored = r_metrics_edges_pairs(
                    scope if scope is not None else e,
                    pt,
                    p.r_lvl1_thres,
                    p.r_lvl2_thres,
                )
                cand = jan.checkpoint(
                    scored.filter(~F.col("keepit")).select("src", "dst")
                )
                weights = hybrid_edge_weights_members(
                    _common_member_rows(cand, pt), sims, p.feature_min_avg
                )
                # Canonical edges → single equi-join against canonical
                # betweenness (the reference probes both orientations,
                # main.py:130-134). Its row count — the loop control —
                # comes from the checkpoint job.
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
                # The pair table and candidate list fed to_delete, now
                # materialized — free them.
                jan.release(pt, cand, scope)
            # The per-step record: |edges actually scored| is what the
            # step's delete-rule cost scales with; the cascade probe reads
            # step-2+ cost against it, and n_deleted_per_step gives the
            # cascade shape alongside.
            if step > 1:
                t.setdefault("n_scope_per_step", []).append(n_scope)
            t.setdefault("n_scored_per_step", []).append(
                n_scope if scope is not None else n_edges
            )
            dt = _mark("loop_delete_rule", t0)
            t.setdefault("loop_delete_rule_per_step", []).append(round(dt, 3))
            t.setdefault("n_deleted_per_step", []).append(n_del)
            if n_del == 0:
                break
            t0 = _time.perf_counter()
            if adj is not None:
                for u, v in to_delete:
                    adj[u].discard(v)
                    adj[v].discard(u)
                n_edges -= n_del
                _mark("loop_anti_join", t0)
                continue
            new_e, n_edges, _ = jan.counted(
                e.join(to_delete, ["src", "dst"], "left_anti")
            )
            _mark("loop_anti_join", t0)
            if step < p.max_steps and n_del < _SCOPE_MAX_DELETED_FRACTION * n_edges:
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
        if adj is None:
            survivors = drop_isolated_vertices(
                vertices.select("id"), e, edges_canonical=True
            )
            out = connected_components(e, survivors, edges_canonical=True)
            # The returned plan references the final edge generation
            # lazily (survivors join + CC mapping): it is the caller's
            # result. The init-step similarity and betweenness
            # checkpoints are dead weight from here; the block's exit
            # frees them.
            jan.keep(e)
        else:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_type
            from pyspark.sql.types import StructField, StructType

            comp = _min_label_components(adj)
            et = e.schema["dst"].dataType
            at = to_arrow_type(et)
            mapping = e.sparkSession.createDataFrame(
                pa.table(
                    {
                        "id": pa.array(list(comp), at),
                        "component": pa.array(list(comp.values()), at),
                    }
                ),
                StructType([StructField("id", et), StructField("component", et)]),
            )
            # The Spark components' final projection over the same join
            # keys: vertices that appear in ``vertices`` and keep an
            # edge, with coalesce(component, id) so the column types and
            # nullability are the Spark path's.
            out = (
                vertices.select("id")
                .join(mapping, "id")
                .select("id", F.coalesce("component", F.col("id")).alias("component"))
            )
        _mark("final_cc", t0)
        return out
