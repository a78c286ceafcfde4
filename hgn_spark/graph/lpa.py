"""Synchronous label propagation (LPA) communities.

Engine extension: the fast complement to the HGN divisive loop —
near-linear community detection (Raghavan et al. 2007, Phys. Rev. E
76:036106) for corpora where the HGN loop's per-iteration r-metrics
would be overkill. GraphFrames ships the same algorithm as
``labelPropagation``; here it is plain DataFrame ops.

Determinism: the classic asynchronous LPA is order-dependent; this is
the SYNCHRONOUS variant with a total tie-break — every vertex
simultaneously adopts its neighbors' most frequent label, ties
breaking toward the SMALLEST label — run for a fixed number of
rounds. Fixed rounds + total tie-break make the output a pure
function of the graph (synchronous LPA can oscillate on bipartite
structures rather than converge, which fixed rounds also bounds).

Scale shape per round: one join of the label frame against the
symmetrized edges on src (the label frame is |V| rows — broadcastable
for most graphs, hash join otherwise) and one two-stage aggregation
(count by (dst, label) with map-side combine, then per-dst argmax via
a max_by struct — no window, no sort). One materialized generation
carried (eager checkpoint release), as in every other loop here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor
from hgn_spark.graph.core import symmetrize


def label_propagation(
    edges: DataFrame,
    n_iter: int = 10,
    checkpoint_interval: int = 5,
    edges_canonical: bool = False,
) -> DataFrame:
    """→ ``(id, label)`` after ``n_iter`` synchronous rounds; labels
    start as vertex ids, so a label is always some member's id."""
    with CheckpointJanitor(edges.sparkSession) as jan:
        sym = jan.checkpoint(symmetrize(edges, assume_canonical=edges_canonical))
        labels = jan.checkpoint(
            sym.select(F.col("src").alias("id")).distinct().select(
                "id", F.col("id").alias("label")
            )
        )
        gen = labels
        for it in range(1, n_iter + 1):
            neigh = sym.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "label")
            counted = neigh.groupBy("id", "label").agg(
                F.count(F.lit(1)).alias("c")
            )
            # argmax by (count desc, label asc): struct-max over
            # (c, -label) — maximizing the negated label minimizes the
            # label, for any sign. No window, no sort: one map-side-
            # combinable max per vertex.
            labels = counted.groupBy("id").agg(
                F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m")
            ).select("id", (-F.col("m.nl")).alias("label"))
            if it % checkpoint_interval == 0 or it == n_iter:
                labels = jan.checkpoint(labels)
                jan.release(gen)
                gen = labels
        # The final label generation is the caller's result.
        return jan.keep(labels)
