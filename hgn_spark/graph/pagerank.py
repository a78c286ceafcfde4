"""PageRank by power iteration on plain DataFrames.

Engine extension (SURVEY §2.9 lists no centrality beyond betweenness —
the reference computes edge betweenness only, graph_tools/
graph_tools.py:184-265); a graph-analytics engine is expected to ship
the standard centrality next to degrees/components/triangles.

Formulation: the undirected graph is symmetrized, so every vertex has
out-degree ≥ 1 and there are no dangling nodes; the update is the
classic

    pr'(v) = (1 - d) / N  +  d * Σ_{u→v} pr(u) / outdeg(u)

run for a FIXED number of iterations from the uniform start — fixed
iteration count (not a convergence test) keeps the result
deterministic and the job count known in advance. Each iteration is
one equi-join (rank against edges on src) plus one map-side-combinable
aggregation by dst — the same shape GraphX's Pregel emits per
superstep, expressed declaratively so AQE picks partition counts and
handles hub skew.

Scale notes:

- State per iteration is one (id, pr) frame of |V| rows; the
  superseded generation is released eagerly (CheckpointJanitor), so
  the loop carries exactly one generation — bounded memory at any
  scale, same discipline as the HGN loop and connected components.
- The join shuffles edges by src once per iteration; at 100 TB the
  edge table would be pre-bucketed by src (operators/scale.py) to
  make that shuffle a one-time cost instead of per-iteration.
- Lineage is truncated every ``checkpoint_interval`` iterations
  (localCheckpoint): unbounded chaining grows the plan linearly per
  iteration until Catalyst analysis time dominates, while truncating
  every round pays one eager action per iteration — the interval
  trades the two (timings in the function docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor
from hgn_spark.graph.core import symmetrize


def build_links(
    edges: DataFrame, jan: CheckpointJanitor, edges_canonical: bool = False
) -> DataFrame:
    """The per-iteration join table every recurrence shares:
    (src, dst, out_deg(src)) over the symmetrized graph, materialized
    once (constant across iterations, so every round's join hits a
    checkpointed table, not the degree aggregation) and held by
    ``jan``. Callers running BOTH the uniform and the personalized
    recurrence (the merged graph_pagerank driver row) build this once
    and pass it to each — the graph build is the startup cost, and
    doubling it was the only overhead of the r8 branch merge."""
    sym = jan.checkpoint(symmetrize(edges, assume_canonical=edges_canonical))
    out_deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    links = jan.checkpoint(sym.join(out_deg.withColumnRenamed("id", "src"), "src"))
    jan.release(sym)
    return links


def _power_iteration(
    edges: DataFrame,
    seeds: DataFrame | None,
    uniform: bool,
    damping: float,
    n_iter: int,
    checkpoint_interval: int,
    links: DataFrame | None,
) -> DataFrame:
    """The one power iteration behind the public entry points →
    ``(id, pu?, pp?)``: one rank column per teleport vector, ``pu``
    (uniform, t(v) = 1/N) when ``uniform`` and ``pp`` (personalized,
    t(v) = [v ∈ S]/|S|) when ``seeds`` is given, each started from its
    own teleport distribution:

        pr'(v) = (1-d)·t(v) + d·Σ_{u→v} pr(u)/outdeg(u)

    Each round is EXACTLY one equi-join + one map-side-combinable
    aggregation whatever the column count (the standard multi-source
    batching: the per-round shuffle moves one state row per vertex,
    columns just get wider). The seed flag is folded into the
    materialized link table once as a dst-side column: the
    symmetrized graph gives every vertex inbound edges, so the
    per-round aggregation already covers the full vertex set and the
    seeded base term rides the grouped flag instead of a per-round
    vertex-table outer join (constant per group, so max() under the
    same groupBy is free map-side). No driver-side seed list.

    ``links``: a prebuilt `build_links` table to share the graph build
    across calls; the caller's janitor owns its blocks.
    """
    spark = edges.sparkSession
    with CheckpointJanitor(spark) as jan:
        own_links = links is None
        if own_links:
            links = build_links(edges, jan)
        if seeds is None:
            # One distinct over the links table, materialized once: it
            # feeds both the vertex count and the initial ranks. Its row
            # count comes from the checkpoint's own job.
            verts, n, _ = jan.counted(links.select(F.col("src").alias("id")).distinct())
        else:
            # (src, dst, out_deg, dst_seed): the per-round join table
            # with the teleport-target flag on the DESTINATION side.
            seed_flag = seeds.select(F.col("id").alias("dst")).distinct().withColumn(
                "dst_seed", F.lit(1)
            )
            slinks = jan.checkpoint(
                links.join(seed_flag, "dst", "left").select(
                    "src",
                    "dst",
                    "out_deg",
                    F.coalesce("dst_seed", F.lit(0)).alias("dst_seed"),
                )
            )
            if own_links:
                jan.release(links)
            links = slinks
            # src-side flags via one distinct over the dst-keyed flags
            # (src and dst ranges are identical on the symmetrized
            # graph); the seed count rides the same job.
            verts, n, seen = jan.counted(
                links.select(
                    F.col("dst").alias("id"), F.col("dst_seed").alias("is_seed")
                ).distinct(),
                ns=F.sum("is_seed"),
            )
            n_seeds = seen["ns"] or 0
        if uniform and n == 0:
            return spark.createDataFrame(
                [], "id long, pu double" + (", pp double" if seeds is not None else "")
            )
        if seeds is not None and n_seeds == 0:
            raise ValueError("pagerank: no seed id appears in the graph")
        # column -> (start, teleport term)
        terms = {}
        if uniform:
            terms["pu"] = (F.lit(1.0 / n), F.lit((1.0 - damping) / n))
        if seeds is not None:
            terms["pp"] = (
                F.col("is_seed") / F.lit(float(n_seeds)),
                F.col("is_seed") * F.lit((1.0 - damping) / n_seeds),
            )
        pr = jan.checkpoint(
            verts.select("id", *[s.alias(c) for c, (s, _) in terms.items()])
        )
        jan.release(verts)
        gen = pr
        for it in range(1, n_iter + 1):
            sums = [F.sum(F.col(c) / F.col("out_deg")).alias("s_" + c) for c in terms]
            if seeds is not None:
                sums.append(F.max("dst_seed").alias("is_seed"))
            pr = (
                links.join(pr.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(*sums)
                .select(
                    "id",
                    *[
                        (t + F.lit(damping) * F.col("s_" + c)).alias(c)
                        for c, (_, t) in terms.items()
                    ],
                )
            )
            if it % checkpoint_interval == 0 or it == n_iter:
                pr = jan.checkpoint(pr)
                jan.release(gen)
                gen = pr
        # The final generation is checkpointed (no lineage into links)
        # and outlives the block as the caller's result.
        return jan.keep(pr)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 20,
    checkpoint_interval: int = 10,
    links: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over the symmetrized graph →
    ``(id, pagerank)``, one row per non-isolated vertex, ranks summing
    to ~1 (exact up to float addition order).

    Matches the textbook power iteration (networkx's update) on
    undirected graphs — same update, same uniform start; parity pinned
    in tests/test_graph.py — when both run the same iteration count.

    ``checkpoint_interval``: iterations between lineage truncations.
    Each checkpoint is an eager action; letting a few iterations chain
    lazily amortizes that cost (measured 6.3 s at interval 1, 4.2 s at
    5, 3.1 s at 10 for 20 rounds on the sf0.1 derived graph) while the
    plan stays shallow enough that Catalyst analysis time never
    dominates. State behavior is unchanged: exactly one materialized
    generation is carried.

    ``links``: a prebuilt `build_links` table to share the graph build
    with another recurrence; the caller owns (and releases) its blocks.
    """
    pr = _power_iteration(
        edges, None, True, damping, n_iter, checkpoint_interval, links
    )
    return pr.select("id", F.col("pu").alias("pagerank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    n_iter: int = 20,
    checkpoint_interval: int = 10,
    links: DataFrame | None = None,
) -> DataFrame:
    """Personalized (seeded) PageRank → ``(id, pagerank)``: the
    teleport mass returns to the SEED set instead of spreading
    uniformly, so ranks measure relevance TO the seeds — the standard
    seed-expansion primitive (related-item discovery, community seeds,
    contamination spread). ``seeds``: a frame with an ``id`` column;
    teleport splits uniformly across the seeds present in the graph.

        pr'(v) = (1-d)·[v ∈ S]/|S| + d · Σ_{u→v} pr(u)/outdeg(u)

    This is the standard PPR power iteration run for a FIXED ``n_iter``
    starting from the teleport distribution itself — pinned exactly
    (1e-9) against an independent pure-Python mirror of that recurrence
    in tests/test_graph.py, and against the same recurrence unrolled in
    SQL in tests/test_oracle_parity.py. networkx.pagerank differs by
    protocol, not by formula: it starts from a uniform ``nstart`` and
    iterates to a convergence tolerance, so at small fixed iteration
    counts the two differ by O(damping^n_iter). Non-seed vertices
    unreachable from any seed converge to 0 and still appear (one row
    per non-isolated vertex). Same scale shape as `pagerank`; raises
    ``ValueError`` when no seed is in the graph. ``links``: see
    `pagerank` (sharing the graph build across recurrences).
    """
    pr = _power_iteration(
        edges, seeds, False, damping, n_iter, checkpoint_interval, links
    )
    return pr.select("id", F.col("pp").alias("pagerank"))


def pagerank_fused(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    n_iter: int = 20,
    checkpoint_interval: int = 10,
    links: DataFrame | None = None,
) -> DataFrame:
    """BOTH recurrences in one loop → ``(id, pr_uniform, pr_ppr)``:
    the state frame carries one rank column per teleport vector, so
    each round is still exactly ONE equi-join + ONE map-side-combinable
    aggregation — 20 shuffles for the pair instead of 40.

    Uniform PageRank IS personalized PageRank with the seed set = V
    (teleport 1/N everywhere), so both columns follow the same
    recurrence with different teleport vectors (`_power_iteration`).
    Column-for-column equal (modulo float summation order — identical
    after the registered row's 6-decimal rounding, pinned at 1e-9 in
    tests/test_graph.py) to `pagerank` and `personalized_pagerank` run
    separately; those remain the single-vector API.
    """
    pr = _power_iteration(
        edges, seeds, True, damping, n_iter, checkpoint_interval, links
    )
    return pr.select(
        "id", F.col("pu").alias("pr_uniform"), F.col("pp").alias("pr_ppr")
    )
