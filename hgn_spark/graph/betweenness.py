"""Truncated Girvan-Newman edge betweenness (SURVEY §2.9 G5-G8).

The reference computes this with GraphX Pregel shortestPaths over
all-vertex landmark batches, motif enumeration, SQL path reconstruction
and ragged e_i columns (graph_tools/graph_tools.py:74-286) — ~200 LoC
and two parquet round-trips. Both shipped configs truncate at
max_sp_length = 2 (confs/quakers.yml:62), where the whole computation
is two self-joins of the symmetrized edge table:

- distance-1 ordered pairs: the edges themselves;
- distance-2 ordered pairs: 2-paths a→m→z with (a,z) not adjacent.

Betweenness of an edge = number of shortest paths crossing it. Two
semantics are offered:

- default (``compat_single_path=False``): classic GN — each ordered
  pair distributes 1 unit of credit over its σ(a,z) shortest paths
  (fractional 1/σ per path), the principled count;
- compat: the reference keeps ONE surviving path per ordered pair
  (dropDuplicates(["a","z"]), graph_tools/graph_tools.py:208 — SURVEY
  §8.2), so each pair credits exactly one path. We pick the path with
  the smallest midpoint to stay deterministic (the reference's pick is
  whatever dropDuplicates happens to keep).

Output is canonical (src < dst) with contributions from both
orientations summed — the reference instead keeps directed edge structs
and probes both orientations at every downstream join (main.py:130-134);
canonical form halves that work (SURVEY §8.7).

Scale shape: one shuffle for the midpoint self-join, one anti-join to
drop adjacent pairs, one window (or groupBy) for σ, one final groupBy
on the canonical edge key. No driver collect — the reference's
all-vertex landmark collect (main.py:254) has no equivalent here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor, loose_local_checkpoint
from hgn_spark.graph.core import symmetrize


def shortest_paths(
    edges: DataFrame, max_len: int = 2, edges_canonical: bool = False
) -> DataFrame:
    """All shortest paths ≤ max_len as (src, dst, distance, path) with
    path: array<struct<src,dst>> — one VARIABLE-LENGTH array column
    instead of the reference's ragged e_0..e_k columns padded with
    dummy structs (G6/G7; spark_manager.py:411-453 P9 padding made
    obsolete by the array representation).

    General k by induction: every shortest d-path is a shortest
    (d-1)-path extended by one edge into a pair not reachable in < d,
    so each round is one join on the frontier endpoint + one anti-join
    against known pairs, checkpointed. (The reference enumerates ALL
    walks per length with motifs and intersects with Pregel distances —
    graph_tools.py:162-218 — which revisits every length from scratch.)

    The distinct (src, dst, distance) projection is the truncated BFS
    distance table (G5; the reference's batched Pregel shortestPaths,
    graph_tools/graph_tools.py:115-153, without the landmark collect).
    """
    sym = symmetrize(edges, assume_canonical=edges_canonical)
    p1 = sym.select(
        "src",
        "dst",
        F.lit(1).alias("distance"),
        F.array(
            F.struct(F.col("src").alias("src"), F.col("dst").alias("dst"))
        ).alias("path"),
    )
    known = sym.select("src", "dst")
    frontier = p1
    out = p1
    for d in range(2, max_len + 1):
        a = frontier.alias("a")
        b = sym.alias("b")
        ext = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                F.lit(d).alias("distance"),
                F.concat(
                    F.col("a.path"),
                    F.array(
                        F.struct(
                            F.col("b.src").alias("src"), F.col("b.dst").alias("dst")
                        )
                    ),
                ).alias("path"),
            )
            .filter(F.col("src") != F.col("dst"))
            .join(known, ["src", "dst"], "left_anti")
        )
        if max_len > 2:
            ext = loose_local_checkpoint(ext)
        out = out.unionByName(ext)
        known = known.union(ext.select("src", "dst").distinct())
        frontier = ext
    return out


def edge_betweenness_brandes(
    edges: DataFrame,
    max_sp_length: int = 2,
    sources: DataFrame | None = None,
    edges_canonical: bool = False,
) -> DataFrame:
    """Fractional-GN edge betweenness via truncated Brandes σ/δ
    accumulation — identical output to path enumeration (default
    semantics, pinned in tests) but built for LARGE truncation depths;
    `edge_betweenness` runs it at k >= 3.

    Enumeration materializes every shortest path as an array;
    its row count is the number of PATHS, which grows multiplicatively
    with depth on dense graphs. This variant keeps only per-pair state:

    - forward, for d = 1..K: σ(s, v, d) = number of shortest s→v paths
      of length d, computed per layer as one join of the (d-1) frontier
      with the edge table + an anti-join against seen pairs + a
      groupBy-sum over parents (the distributed Brandes forward pass —
      the reference's batched Pregel shortestPaths,
      graph_tools/graph_tools.py:115-153, computes distances only and
      then re-enumerates walks per length with motifs);
    - backward, for d = K..1: each pair (s, w) at depth d spreads
      σ(s,u)/σ(s,w) · (1 + δ(s,w)) credit onto every DAG parent edge
      (u, w), and δ(s, u) accumulates the per-parent credits — one join
      + one groupBy per level.

    State is O(Σ_s |ball_K(s)|) pair rows (the inherent output size of
    truncated all-pairs betweenness), every stage shuffles on (s, key)
    equi-keys, each level localCheckpoints — no path arrays, no driver
    collect, survives depths where path enumeration detonates.

    ``sources``: optional frame of vertex ids restricting the forward
    pass to those BFS sources (ordered pairs (s, *) with s in the set)
    — the hook `edge_betweenness_sampled` uses for Brandes–Pich
    source sampling when even per-pair all-source state is too much.
    """
    sym = symmetrize(edges, assume_canonical=edges_canonical)
    layer0 = sym.select(
        F.col("src").alias("s"),
        F.col("dst").alias("v"),
        F.lit(1.0).alias("sig"),
    )
    if sources is not None:
        layer0 = layer0.join(
            sources.select(F.col("id").alias("s")), "s", "left_semi"
        )
    layers: list[DataFrame] = [loose_local_checkpoint(layer0)]
    known = layers[0].select("s", "v")
    for _d in range(2, max_sp_length + 1):
        a = layers[-1].alias("a")
        b = sym.alias("b")
        nxt = (
            a.join(b, F.col("a.v") == F.col("b.src"))
            .select(
                F.col("a.s").alias("s"),
                F.col("b.dst").alias("v"),
                F.col("a.sig").alias("sig"),
            )
            .filter(F.col("s") != F.col("v"))
            .join(known, ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sig").alias("sig"))
        )
        nxt = loose_local_checkpoint(nxt)
        layers.append(nxt)
        known = known.union(nxt.select("s", "v"))

    credits: list[DataFrame] = []
    delta: DataFrame | None = None
    und = sym.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    for d in range(max_sp_length, 0, -1):
        cur = layers[d - 1]
        if delta is None:
            cur = cur.withColumn("delta", F.lit(0.0))
        else:
            cur = cur.join(delta, ["s", "v"], "left").fillna({"delta": 0.0})
        if d > 1:
            prev = layers[d - 2].select(
                "s", F.col("v").alias("u"), F.col("sig").alias("sig_u")
            )
            cred = (
                cur.join(und, "v")
                .join(prev, ["s", "u"])
                .withColumn(
                    "c",
                    F.col("sig_u") / F.col("sig") * (F.lit(1.0) + F.col("delta")),
                )
            )
            credits.append(
                cred.select(
                    F.least("u", "v").alias("src"),
                    F.greatest("u", "v").alias("dst"),
                    "c",
                )
            )
            delta = loose_local_checkpoint(
                cred.groupBy("s", "u")
                .agg(F.sum("c").alias("delta"))
                .select("s", F.col("u").alias("v"), "delta")
            )
        else:
            # Depth-1 pairs: the only DAG parent is the source itself
            # (σ(s,s) = 1), so the edge (s, w) takes the whole unit plus
            # everything accumulated below w.
            cred = cur.withColumn(
                "c", (F.lit(1.0) + F.col("delta")) / F.col("sig")
            )
            credits.append(
                cred.select(
                    F.least("s", "v").alias("src"),
                    F.greatest("s", "v").alias("dst"),
                    "c",
                )
            )
    out = credits[0]
    for c in credits[1:]:
        out = out.unionByName(c)
    return out.groupBy("src", "dst").agg(F.sum("c").alias("betweenness"))


def edge_betweenness_sampled(
    edges: DataFrame,
    max_sp_length: int = 2,
    source_fraction: float = 0.25,
) -> DataFrame:
    """Brandes–Pich source-SAMPLED approximate edge betweenness: run
    the σ/δ accumulation from a deterministic md5-sampled fraction of
    sources and scale contributions by n_vertices / n_sampled — an
    unbiased estimator of the full truncated betweenness (each ordered
    pair (s, ·) contributes iff its source is sampled).

    The scale path BELOW `edge_betweenness_brandes`: per-pair state is
    the inherent cost of all-source truncated betweenness, and on a
    graph where Σ_s |ball_K(s)| itself explodes, sampling sources is
    the standard remedy (Brandes & Pich 2007) — state shrinks
    proportionally to the fraction. Deterministic (hash sample, no
    RNG): repeated runs return identical estimates.

    Exactness contract, pinned by test: restricted to the sampled
    sources the credits are EXACT (same semantics as the full run from
    those sources), and `source_fraction >= 1` returns bit-identical
    results to `edge_betweenness_brandes`. Edges only reachable from
    unsampled sources are absent (estimate 0), like any source-sampled
    estimator.
    """
    sym_src = symmetrize(edges).select(F.col("src").alias("id")).distinct()
    if source_fraction >= 1.0:
        return edge_betweenness_brandes(edges, max_sp_length)
    thr = format(min(int(source_fraction * 2**32), 2**32 - 1), "08x")
    with CheckpointJanitor(edges.sparkSession) as jan:
        sampled, k, _ = jan.counted(
            sym_src.filter(
                F.substring(F.md5(F.col("id").cast("string")), 1, 8) < thr
            )
        )
        jan.keep(sampled)
    n = sym_src.count()
    if k == 0:
        raise ValueError(
            f"edge_betweenness_sampled: source_fraction={source_fraction} "
            "sampled zero sources — raise the fraction"
        )
    raw = edge_betweenness_brandes(edges, max_sp_length, sources=sampled)
    return raw.withColumn(
        "betweenness", F.col("betweenness") * F.lit(n / k)
    )


def choose_betweenness_path(max_sp_length: int, any_compat: bool = False) -> str:
    """The kernel-dispatch rule as a PURE plan-time function (the
    `choose_jaccard_path` mold): returns 'paths' or 'sigma'.

    Rationale, all points MEASURED on Hamsterster (1.9k vertices /
    12.5k edges, local[32]; ARCHITECTURE §betweenness, outputs
    bit-equal):

    - k <= 2 → 'paths': enumeration wins (1.9 s vs sigma 7.7 s at
      k=2) — path volume is still tiny and the σ/δ backward pass's
      per-level joins cost more stages than they save;
    - k >= 3 → 'sigma': per-pair state overtakes enumeration
      (k=3: 22.9 s vs 38.4 s; k=4: 26.1 s vs 381.7 s, 14.6×) as path
      count grows multiplicatively with depth.

    Compat modes need concrete paths, so they force 'paths' at any
    depth (the quirk-fidelity modes exist for small reference-parity
    runs, not scale). The source-sampled estimator is never chosen
    here — it changes values; call `edge_betweenness_sampled`."""
    if any_compat or max_sp_length <= 2:
        return "paths"
    return "sigma"


def edge_betweenness(
    edges: DataFrame,
    max_sp_length: int = 2,
    compat_single_path: bool = False,
    compat_max_length_only: bool = False,
    edges_canonical: bool = False,
) -> DataFrame:
    """→ (src, dst, betweenness) on canonical src < dst edges, for any
    truncation depth, through the kernel `choose_betweenness_path`
    picks: shortest-path enumeration at k <= 2 (`_edge_betweenness_paths`),
    σ/δ accumulation (`edge_betweenness_brandes`) at k >= 3. Both give
    the same values (pinned in tests). Compat modes (reference-fidelity
    quirks, each independently toggleable; both at once reproduces the
    reference most closely) always enumerate:

    - ``compat_single_path`` (SURVEY §8.2): one surviving path per
      ordered pair instead of fractional 1/σ credit;
    - ``compat_max_length_only`` (SURVEY §8.3): only paths of exactly
      ``max_sp_length`` contribute — the reference's progressive-filter
      bug reassigns sp_lengths inside its descending loop, emptying
      every shorter length, so e.g. its k=2 betweenness never credits
      the distance-1 pairs. Default-correct behavior counts all
      lengths.
    """
    any_compat = compat_single_path or compat_max_length_only
    if choose_betweenness_path(max_sp_length, any_compat) == "sigma":
        return edge_betweenness_brandes(
            edges, max_sp_length, edges_canonical=edges_canonical
        )
    return _edge_betweenness_paths(
        edges,
        max_sp_length,
        compat_single_path=compat_single_path,
        compat_max_length_only=compat_max_length_only,
        edges_canonical=edges_canonical,
    )


def _edge_betweenness_paths(
    edges: DataFrame,
    max_sp_length: int,
    compat_single_path: bool = False,
    compat_max_length_only: bool = False,
    edges_canonical: bool = False,
) -> DataFrame:
    """Betweenness by enumeration: every shortest path ≤ max_sp_length,
    each ordered pair's unit credited across its σ paths (or to a
    single deterministic path in compat mode — quirk §8.2), path arrays
    exploded and summed per canonical edge."""
    sp = shortest_paths(
        edges, max_len=max_sp_length, edges_canonical=edges_canonical
    )
    if compat_max_length_only:
        sp = sp.filter(F.col("distance") == max_sp_length)

    if compat_single_path:
        # One surviving path per ordered pair, picked deterministically
        # by the vertex sequence (the reference keeps whichever row
        # dropDuplicates(["a","z"]) lands on).
        w_pick = W.partitionBy("src", "dst").orderBy(
            F.expr("transform(path, x -> x.dst)")
        )
        sp = (
            sp.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .withColumn("w", F.lit(1.0))
        )
    else:
        w_sig = W.partitionBy("src", "dst")
        sp = sp.withColumn("w", F.lit(1.0) / F.count(F.lit(1)).over(w_sig))

    legs = sp.select("w", F.explode("path").alias("e"))
    return (
        legs.select(
            F.least("e.src", "e.dst").alias("src"),
            F.greatest("e.src", "e.dst").alias("dst"),
            "w",
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("betweenness"))
    )
