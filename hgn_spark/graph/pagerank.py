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

from hgn_spark.checkpoint import CheckpointJanitor, park_loose_blocks
from hgn_spark.graph.core import symmetrize


def build_links(
    edges: DataFrame, jan: CheckpointJanitor, edges_canonical: bool = False
) -> tuple[DataFrame, frozenset[int]]:
    """The per-iteration join table both recurrences share:
    (src, dst, out_deg(src)) over the symmetrized graph, materialized
    once (constant across iterations, so every round's join hits a
    checkpointed table, not the degree aggregation). Callers running
    BOTH the uniform and the personalized recurrence (the merged
    graph_pagerank driver row) build this once and pass it to each —
    the graph build is the startup cost, and doubling it was the
    only overhead of the r8 branch merge."""
    sym, sym_ids = jan.checkpoint(symmetrize(edges, assume_canonical=edges_canonical))
    out_deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    links, links_ids = jan.checkpoint(
        sym.join(out_deg.withColumnRenamed("id", "src"), "src")
    )
    jan.release(sym_ids)
    return links, links_ids


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
    spark = edges.sparkSession
    jan = CheckpointJanitor(spark)
    own_links = links is None
    links_ids: frozenset[int] = frozenset()
    if own_links:
        links, links_ids = build_links(edges, jan)
    # One distinct over the links table, materialized once: it feeds
    # both the vertex count and the uniform initial ranks (computing it
    # twice would run the edge-set-sized shuffle twice at startup). Its
    # row count comes from the checkpoint's own materializing job.
    verts, vert_ids, n, _ = jan.counted(links.select("src").distinct())
    if n == 0:
        jan.release(vert_ids)
        if own_links:
            jan.release(links_ids)
        return spark.createDataFrame([], "id long, pagerank double")

    pr = verts.select(F.col("src").alias("id"), F.lit(1.0 / n).alias("pr"))
    pr, pr_ids = jan.checkpoint(pr)
    jan.release(vert_ids)
    base = (1.0 - damping) / n
    for it in range(1, n_iter + 1):
        contrib = (
            links.join(pr.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("out_deg")).alias("in_sum"))
        )
        pr = contrib.select(
            "id", (F.lit(base) + F.lit(damping) * F.col("in_sum")).alias("pr")
        )
        if it % checkpoint_interval == 0 or it == n_iter:
            pr, new_ids = jan.checkpoint(pr)
            jan.release(pr_ids)
            pr_ids = new_ids
    out = pr.select("id", F.col("pr").alias("pagerank"))
    # The final frame is checkpointed (no lineage into links) — the
    # link table's blocks are dead weight from here. The final
    # generation itself outlives the loop as the caller's result, so
    # its ids go to the registered loose store (released by
    # registry.clear_session_caches, same as k-core's final labels).
    if own_links:
        jan.release(links_ids)
    park_loose_blocks(pr_ids, spark)
    return out


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
    per non-isolated vertex).

    Same scale shape as `pagerank` — EXACTLY one equi-join + one
    map-side-combinable aggregation per round: the seed flag is folded
    into the materialized link table once as a dst-side column (the
    symmetrized graph gives every vertex inbound edges, so the
    per-round aggregation already covers the full vertex set and the
    base term rides the grouped flag instead of a per-round
    vertex-table outer join; constant per group, so max() under the
    same groupBy is free map-side). No driver-side seed list.
    ``links``: see `pagerank` (sharing the graph build across
    recurrences).
    """
    spark = edges.sparkSession
    jan = CheckpointJanitor(spark)
    own_links = links is None
    links_ids: frozenset[int] = frozenset()
    if own_links:
        links, links_ids = build_links(edges, jan)
    # (src, dst, out_deg, dst_seed): the per-round join table with the
    # teleport-target flag attached to the DESTINATION side.
    seed_flag = seeds.select(F.col("id").alias("dst")).distinct().withColumn(
        "dst_seed", F.lit(1)
    )
    slinks, slinks_ids = jan.checkpoint(
        links.join(seed_flag, "dst", "left").select(
            "src",
            "dst",
            "out_deg",
            F.coalesce("dst_seed", F.lit(0)).alias("dst_seed"),
        )
    )
    if own_links:
        jan.release(links_ids)
    # Seed count: one aggregation over the materialized table (each
    # dst appears out_deg-many times; count distinct seeded dsts).
    n_seeds = (
        slinks.filter(F.col("dst_seed") == 1).select("dst").distinct().count()
    )
    if n_seeds == 0:
        jan.release(slinks_ids)
        raise ValueError(
            "personalized_pagerank: no seed id appears in the graph"
        )
    base_c = (1.0 - damping) / n_seeds
    # Start from the teleport distribution itself. src-side flag via
    # one distinct over the dst-keyed flags (src and dst ranges are
    # identical on the symmetrized graph).
    pr = (
        slinks.select(
            F.col("dst").alias("id"), F.col("dst_seed").alias("is_seed")
        )
        .distinct()
        .select("id", (F.col("is_seed") / F.lit(float(n_seeds))).alias("pr"))
    )
    pr, pr_ids = jan.checkpoint(pr)
    for it in range(1, n_iter + 1):
        pr = (
            slinks.join(pr.select(F.col("id").alias("src"), "pr"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum(F.col("pr") / F.col("out_deg")).alias("in_sum"),
                F.max("dst_seed").alias("is_seed"),
            )
            .select(
                "id",
                (
                    F.col("is_seed") * F.lit(base_c)
                    + F.lit(damping) * F.col("in_sum")
                ).alias("pr"),
            )
        )
        if it % checkpoint_interval == 0 or it == n_iter:
            pr, new_ids = jan.checkpoint(pr)
            jan.release(pr_ids)
            pr_ids = new_ids
    out = pr.select("id", F.col("pr").alias("pagerank"))
    jan.release(slinks_ids)
    park_loose_blocks(pr_ids, spark)
    return out


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
    aggregation — 20 shuffles for the pair instead of 40 (the standard
    multi-source batching: at any vector count the per-round shuffle
    moves one state row per vertex, columns just get wider).

    Uniform PageRank IS personalized PageRank with the seed set = V
    (teleport 1/N everywhere), so both columns follow the same
    recurrence with different teleport vectors:

        pr'(v) = (1-d)·t(v) + d·Σ_{u→v} pr(u)/outdeg(u)

    with t_uniform = 1/N and t_ppr = [v ∈ S]/|S|, each started from
    its own teleport distribution. Column-for-column equal (modulo
    float summation order — identical after the registered row's
    6-decimal rounding, pinned at 1e-9 in tests/test_graph.py) to
    `pagerank` and `personalized_pagerank` run separately; those
    remain the single-vector API.
    """
    spark = edges.sparkSession
    jan = CheckpointJanitor(spark)
    own_links = links is None
    links_ids: frozenset[int] = frozenset()
    if own_links:
        links, links_ids = build_links(edges, jan)
    seed_flag = seeds.select(F.col("id").alias("dst")).distinct().withColumn(
        "dst_seed", F.lit(1)
    )
    slinks, slinks_ids = jan.checkpoint(
        links.join(seed_flag, "dst", "left").select(
            "src",
            "dst",
            "out_deg",
            F.coalesce("dst_seed", F.lit(0)).alias("dst_seed"),
        )
    )
    if own_links:
        jan.release(links_ids)
    verts = slinks.select(
        F.col("dst").alias("id"), F.col("dst_seed").alias("is_seed")
    ).distinct()
    counts = verts.agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_seed").alias("ns")
    ).first()
    n, n_seeds = counts["n"], counts["ns"] or 0
    if n == 0:
        jan.release(slinks_ids)
        return spark.createDataFrame(
            [], "id long, pr_uniform double, pr_ppr double"
        )
    if n_seeds == 0:
        jan.release(slinks_ids)
        raise ValueError("pagerank_fused: no seed id appears in the graph")
    base_u = (1.0 - damping) / n
    base_p = (1.0 - damping) / n_seeds
    pr = verts.select(
        "id",
        F.lit(1.0 / n).alias("pu"),
        (F.col("is_seed") / F.lit(float(n_seeds))).alias("pp"),
    )
    pr, pr_ids = jan.checkpoint(pr)
    for it in range(1, n_iter + 1):
        pr = (
            slinks.join(
                pr.select(F.col("id").alias("src"), "pu", "pp"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum(F.col("pu") / F.col("out_deg")).alias("su"),
                F.sum(F.col("pp") / F.col("out_deg")).alias("sp"),
                F.max("dst_seed").alias("is_seed"),
            )
            .select(
                "id",
                (F.lit(base_u) + F.lit(damping) * F.col("su")).alias("pu"),
                (
                    F.col("is_seed") * F.lit(base_p)
                    + F.lit(damping) * F.col("sp")
                ).alias("pp"),
            )
        )
        if it % checkpoint_interval == 0 or it == n_iter:
            pr, new_ids = jan.checkpoint(pr)
            jan.release(pr_ids)
            pr_ids = new_ids
    out = pr.select(
        "id", F.col("pu").alias("pr_uniform"), F.col("pp").alias("pr_ppr")
    )
    jan.release(slinks_ids)
    park_loose_blocks(pr_ids, spark)
    return out
