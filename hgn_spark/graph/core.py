"""Graph primitives on plain DataFrames (SURVEY.md §2.9 G1-G3).

A graph is two DataFrames: vertices ``(id, *features)`` and edges
``(src, dst)`` — the same model the reference builds via GraphFrames
(reference spark_manager/spark_manager.py:92-100). No GraphFrames
dependency: every operator here is a declarative DataFrame plan, so
Catalyst/AQE pick the physical strategy and the same code runs at any
scale.

Undirectedness is emulated by symmetrizing before traversals, exactly
as the reference does (graph_tools/graph_tools.py:125-126,336-337) —
but storage stays canonical ``src < dst`` where possible, which halves
the both-orientations join pattern (SURVEY §8.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, assume_canonical: bool = False) -> DataFrame:
    """Union reversed edges, drop self-loops and duplicates.

    Reference parity: graph_tools/graph_tools.py:125-126 (the union-of-
    reversed pattern before every traversal).

    ``assume_canonical``: the caller guarantees the input is already
    canonical (src < dst, distinct — e.g. `canonicalize`'s output or
    `derived_edges`). Then the two orientations cannot collide or
    self-loop, so the dedup pass — a full exchange + two hash
    aggregates over 2|E| rows — is provably a no-op and is skipped.
    Same row set either way; only the plan differs.
    """
    e = edges.select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if assume_canonical:
        return e.union(rev)
    return e.union(rev).filter(F.col("src") != F.col("dst")).distinct()


def _tagged_pairs2(
    edges: DataFrame,
    sources: DataFrame | None = None,
    edges_canonical: bool = False,
) -> DataFrame:
    """Level-2 neighbor pairs carrying a level-1 membership tag —
    (src, dst, is_l1) with is_l1 true iff dst is ADJACENT to src.

    The graph layer's one 2-hop enumerator: `neighbor_pairs` (level=2)
    is its (src, dst) projection, and the r-metric scorer and the HGN
    loop read the tag. The level-2 neighborhood is adjacent ∪ two-hop,
    so p1 ⊆ p2 and one tagged frame serves both levels' counts and
    common-member sets; the groupBy+max over (src, dst) is the exchange
    a distinct would run, carrying the 1-byte tag. ``sources``
    restricts the expansion to those source vertices.
    """
    sym = symmetrize(edges, assume_canonical=edges_canonical)
    base = (
        sym.join(sources.select(F.col("id").alias("src")), "src", "left_semi")
        if sources is not None
        else sym
    )
    a = base.alias("a")
    b = sym.alias("b")
    two = a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
    )
    return (
        base.withColumn("is_l1", F.lit(True))
        .unionByName(two.withColumn("is_l1", F.lit(False)))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("is_l1").alias("is_l1"))
    )


def canonicalize(edges: DataFrame) -> DataFrame:
    """Collapse both orientations onto ``src < dst`` rows."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def degrees(edges: DataFrame, edges_canonical: bool = False) -> DataFrame:
    """Per-vertex degree over the symmetrized graph → (id, degree)."""
    return (
        symmetrize(edges, assume_canonical=edges_canonical)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def neighbor_pairs(
    edges: DataFrame,
    level: int = 1,
    edges_canonical: bool = False,
) -> DataFrame:
    """Ordered (src, dst) pairs with dst in the level-``level`` neighborhood.

    level=1: adjacent vertices. level=2: adjacent ∪ two-hop endpoints
    (the reference's lvl2 includes lvl1 midpoints — graph_tools/
    graph_tools.py:343-350 unions dst and dst_2), excluding self.

    The 2-hop set is the (src, dst) projection of `_tagged_pairs2`:
    one self-join of the symmetrized edge table, not the motif API; at
    scale the join shuffles once on the midpoint key and AQE handles
    skewed hubs. With the tag unread, Catalyst prunes its max and the
    groupBy plans as the distinct.
    """
    if level not in (1, 2):
        raise ValueError(f"neighbor_pairs supports level 1 or 2, got {level}")
    if level == 1:
        return symmetrize(edges, assume_canonical=edges_canonical)
    return _tagged_pairs2(edges, edges_canonical=edges_canonical).select("src", "dst")


def neighbors(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    level: int = 1,
    edges_canonical: bool = False,
) -> DataFrame:
    """Per-vertex neighbor sets → (id, count, neighbors array).

    Reference parity: find_neighbors (graph_tools/graph_tools.py:328-370):
    collect_set + count per vertex, full-joined against the vertex table
    so isolated vertices appear with count 0 / empty array.

    Scale note: the neighbor array is bounded by the max degree at the
    chosen level; for power-law graphs the hub rows dominate one task —
    AQE skew-split handles the groupBy, and downstream consumers should
    prefer the (src, dst) pair form (`neighbor_pairs`) when they only
    need joins, not materialized sets.
    """
    pairs = neighbor_pairs(edges, level=level, edges_canonical=edges_canonical)
    agg = pairs.groupBy(F.col("src").alias("id")).agg(
        F.collect_set("dst").alias("neighbors"), F.count("dst").alias("count")
    )
    if vertices is None:
        return agg
    # Empty-set fill typed from the edge schema, not hardcoded bigint —
    # vertex ids may be strings on ad-hoc graphs.
    from pyspark.sql.types import ArrayType

    dst_type = ArrayType(pairs.schema["dst"].dataType)
    return (
        vertices.select("id")
        .join(agg, "id", "left")
        .select(
            "id",
            F.coalesce("count", F.lit(0)).alias("count"),
            F.coalesce("neighbors", F.array().cast(dst_type)).alias("neighbors"),
        )
    )


def triangles(edges: DataFrame, edges_canonical: bool = False) -> DataFrame:
    """Per-vertex triangle counts → (id, triangles).

    Edge-iterator algorithm with DEGREE ordering — the standard
    distributed formulation (Suri & Vassilvitskii, WWW'11 "Counting
    triangles and the curse of the last reducer"): orient every
    undirected edge from its lower-(degree, id) endpoint to the
    higher one, build wedges by self-joining the oriented list on the
    middle vertex, then close each wedge against the oriented list.
    Orientation bounds each vertex's out-degree by O(sqrt(m)), so the
    wedge join — the only superlinear step — generates
    O(m^{3/2}) rows worst-case instead of sum(deg^2), and the hub that
    would otherwise explode a plain id-ordered orientation never
    becomes a join key. Both joins are equi-joins (AQE skew-split
    applies); no cartesian anywhere.

    Counting each triangle exactly once at its lowest-(deg, id) apex,
    the per-vertex count then explodes the 3 members of each found
    triangle — one map-side-combinable aggregation.
    """
    canon = edges.select("src", "dst") if edges_canonical else canonicalize(edges)
    deg = degrees(canon, edges_canonical=True)
    # (deg, id) total order, packed into one orderable struct.
    with_deg = (
        canon.join(deg.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("degree", "src_deg")
        .join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("dst_deg")),
            "dst",
        )
    )
    lower_first = F.struct(F.col("src_deg"), F.col("src")) < F.struct(
        F.col("dst_deg"), F.col("dst")
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    a = oriented.alias("a")
    b = oriented.alias("b")
    # Wedge (u, v, w): u→v and u→w with v "before" w in the oriented
    # order is implied by closing with the oriented edge v→w.
    wedges = a.join(b, F.col("a.v") == F.col("b.u")).select(
        F.col("a.u").alias("x"), F.col("a.v").alias("y"), F.col("b.v").alias("z")
    )
    tri = wedges.join(
        oriented,
        (F.col("x") == F.col("u")) & (F.col("z") == F.col("v")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def drop_isolated_vertices(
    vertices: DataFrame, edges: DataFrame, edges_canonical: bool = False
) -> DataFrame:
    """Keep vertices that appear in at least one edge (reference G15,
    GraphFrames dropIsolatedVertices at main.py:208) — one semi-join."""
    ids = symmetrize(edges, assume_canonical=edges_canonical).select(
        F.col("src").alias("id")
    )
    return vertices.join(ids, "id", "left_semi")


def modularity_score(
    edges: DataFrame, communities: DataFrame, edges_canonical: bool = False
) -> DataFrame:
    """Newman modularity of a community assignment over the undirected
    graph — the quality metric that closes the community-detection
    loop (score what `hgn_communities` / `label_propagation` / CC
    produce):

        Q = sum_c [ e_c / m  -  (d_c / 2m)^2 ]

    with m undirected edges, e_c intra-community edges, and d_c the
    total degree inside community c. Matches
    ``networkx.algorithms.community.modularity`` (parity pinned in
    tests/test_graph.py). ``communities``: (id, community). Vertices
    missing from the assignment contribute no intra edges and no
    degree (their edges still count in m) — pass a complete
    assignment for the standard definition.

    Scale shape: the canonical edge set is materialized ONCE (loose
    localCheckpoint — its distinct shuffle would otherwise run three
    times: the m count, the intra-edge aggregation, and the degree
    pass), then joins the (tiny, usually broadcastable) assignment
    twice — once per endpoint — and feeds two map-side-combinable
    aggregations. Returns (modularity double, n_edges long,
    n_communities long).
    """
    from hgn_spark.checkpoint import loose_local_checkpoint

    canon = (
        edges.select("src", "dst") if edges_canonical else canonicalize(edges)
    )
    e = loose_local_checkpoint(canon.select("src", "dst"))
    a_src = communities.select(
        F.col("id").alias("src"), F.col("community").alias("c_src")
    )
    a_dst = communities.select(
        F.col("id").alias("dst"), F.col("community").alias("c_dst")
    )
    labeled = e.join(a_src, "src", "left").join(a_dst, "dst", "left")
    intra = (
        labeled.filter(
            F.col("c_src").isNotNull() & (F.col("c_src") == F.col("c_dst"))
        )
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg_c = (
        # e is the canonicalized (or caller-guaranteed canonical) set.
        degrees(e, edges_canonical=True)
        .join(communities, "id")
        .groupBy("community")
        .agg(F.sum("degree").alias("d_c"))
    )
    per_c = deg_c.join(intra, "community", "left").select(
        "community",
        F.coalesce("e_c", F.lit(0)).alias("e_c"),
        "d_c",
    )
    m = e.count()
    if m == 0:
        raise ValueError("modularity_score: empty edge set")
    return per_c.agg(
        F.round(
            F.sum(
                F.col("e_c") / F.lit(float(m))
                - (F.col("d_c") / F.lit(2.0 * m)) * (F.col("d_c") / F.lit(2.0 * m))
            ),
            6,
        ).alias("modularity"),
        F.lit(m).alias("n_edges"),
        F.count(F.lit(1)).alias("n_communities"),
    )
