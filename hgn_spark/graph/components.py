"""Connected components + community-size filtering (SURVEY §2.9 G13-G15).

The reference calls GraphFrames' connectedComponents (graph_tools/
graph_tools.py:530), which implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14). GraphFrames isn't a dependency here,
so the same algorithm is implemented directly on DataFrames:

- large-star: every vertex points its larger neighbors at the minimum
  of its closed neighborhood;
- small-star: every vertex and its smaller neighbors link to that
  minimum.

Both phases are one window (min over the src partition) plus a
projection — no collect, no Python loop over rows. Convergence is
O(log n) rounds on real graphs; each round localCheckpoints to truncate
lineage (the reference's parquet round-trip, spark_manager.py:215-231,
served the same purpose with far more IO).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor
from hgn_spark.graph.core import symmetrize


def _large_star(b: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) ∪ {u}).

    N(u) is undirected: the map phase of the original formulation emits
    both orientations before grouping, so do the same here.
    """
    # No distincts here at all: duplicate (src, dst) rows cannot change
    # a min() window — neither this one nor _small_star's downstream —
    # and output cardinality stays <= |b| regardless (one row per input
    # edge with dst > src). _small_star's final distinct is the one
    # per-round canonicalizer (the convergence signature hashes the
    # exact row multiset, so the checkpointed state must be distinct).
    # Each distinct dropped is a full shuffle per round saved.
    # Emit both orientations with one explode pass over the checkpointed
    # state rather than a two-branch union (one scan stage, not two).
    bb = (
        b.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                    F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    w = W.partitionBy("src")
    return (
        bb.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(b: DataFrame) -> DataFrame:
    """Orient edges high→low, then link each vertex and its smaller
    neighbors to the minimum of the closed neighborhood."""
    # Same reasoning as _large_star: duplicates are harmless under the
    # min() window and the moved/anchors distincts dedup the output, so
    # the pre-window distinct's shuffle is pure overhead.
    o = b.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    o = o.withColumn("m", F.min("dst").over(W.partitionBy("src")))
    # Both output arms — moved neighbors (dst, m) and anchors (src, m) —
    # come out of ONE explode over the window output instead of a
    # union of two scans of it: the moved arm's dst != m condition is
    # exactly the src != dst filter (when dst == m the emitted row is
    # (m, m)), so no per-arm filtering is needed, the window sort+min
    # is computed once instead of per union branch, and the anchors
    # arm's pre-distinct shuffle disappears (the final distinct's
    # map-side partial aggregation absorbs the duplicates).
    return (
        o.select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("s"), F.col("m").alias("d")),
                    F.struct(F.col("src").alias("s"), F.col("m").alias("d")),
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 30,
    edges_canonical: bool = False,
) -> DataFrame:
    """→ (id, component) with component = min vertex id in the component.

    Isolated vertices (present in ``vertices`` but no edge) map to
    themselves, matching GraphFrames semantics when the vertex table is
    supplied. Raises ``RuntimeError`` when ``max_iter`` rounds pass
    without the round signature repeating.
    """
    with CheckpointJanitor(edges.sparkSession) as jan:
        b = jan.checkpoint(symmetrize(edges, assume_canonical=edges_canonical))
        prev_sig: tuple[int, int] | None = None
        for _ in range(max_iter):
            # The round signature (row count, bit_xor of row hashes)
            # comes out of the checkpoint's own materializing job — no
            # separate collect() per round. bit_xor is order-insensitive
            # and cannot overflow (sum of xxhash64 trips ANSI
            # long-overflow checks); it is null on an empty round, read
            # as 0.
            nxt, n, seen = jan.counted(
                _small_star(_large_star(b)), h=F.expr("bit_xor(xxhash64(src, dst))")
            )
            # Round N is materialized; round N-1's blocks can never be
            # read again — free them now instead of waiting for async GC
            # cleanup (bounded memory across the O(log n) rounds).
            jan.release(b)
            b = nxt
            sig = (n, seen["h"] or 0)
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            # Same contract as core_numbers: a partition that is not the
            # fixpoint would be silently wrong.
            raise RuntimeError(
                f"connected_components: no fixpoint after max_iter={max_iter} "
                "rounds; re-run with a larger max_iter"
            )
        # At the fixpoint b is a star forest: (member, root) rows for
        # every non-root member. The returned plan references it
        # LAZILY, so it outlives the block as the caller's result.
        jan.keep(b)
    mapping = b.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    if vertices is not None:
        base = vertices.select("id")
    else:
        base = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    return base.join(mapping, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def component_sizes(components: DataFrame, min_size: int = 1) -> DataFrame:
    """Component → member count, with the reference's HAVING-style filter
    (graph_tools/graph_tools.py:531-532)."""
    return (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= min_size)
    )
