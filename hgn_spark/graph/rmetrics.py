"""r-metric edge scoring (SURVEY.md §2.9 G4) over flat pair tables.

The reference computes r11/r12 (level-1) and r21/r22 (level-2) per edge
with five row-at-a-time Python UDFs (graph_tools/graph_tools.py:389-404)
— every row pays a JVM→Python worker hop — over per-vertex neighbor
arrays. Here a vertex's neighborhood is a set of (src, dst, is_l1) rows
(`_tagged_pairs2`), and the UDFs become hash equi-joins and counting
aggregations over them: UD2/UD3 (intersect + size) are a two-join
common-member expansion counted per edge, UD4 a guarded division, UD5
a boolean expression. No hub-sized array is ever built (a high-degree
vertex is just more rows, which AQE skew-splits), and the whole
pipeline stays inside whole-stage codegen. The DuckDB oracle of the
`graph_rmetrics` row uses the same formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hgn_spark.graph.core import _tagged_pairs2


def _ratio(common: Column, count: Column) -> Column:
    """common/count guarding div-by-0 — udf_calculate_r_metrics
    (graph_tools.py:400-401)."""
    return F.when(count > 0, common.cast("double") / count).otherwise(F.lit(0.0))


def _common_member_rows(
    e: DataFrame, pt: DataFrame, both_l1: bool = False
) -> DataFrame:
    """(src, dst, member) rows: member ∈ N2(src) ∩ N2(dst), member ∉
    {src, dst} — the level-2 common-neighbor set of each edge of ``e``,
    read off a `_tagged_pairs2` table ``pt`` whose sources cover every
    endpoint of ``e``. Two equi-joins against the pair table and no
    arrays anywhere: byte-for-byte the formulation the graph_rmetrics
    DuckDB oracle uses (cn1/cn2 CTEs). Rows are distinct because
    ``pt`` is distinct per (src, dst).

    ``both_l1`` adds a column true iff the member is ALSO a level-1
    common neighbor (adjacent to both endpoints): p1 ⊆ p2, so one
    expansion serves both levels."""
    s = pt.select(
        F.col("src").alias("m_sid"),
        F.col("dst").alias("member"),
        F.col("is_l1").alias("s_l1"),
    )
    d = pt.select(
        F.col("src").alias("m_did"),
        F.col("dst").alias("member"),
        F.col("is_l1").alias("d_l1"),
    )
    cols = ["src", "dst", s["member"].alias("member")]
    if both_l1:
        cols.append((s["s_l1"] & d["d_l1"]).alias("both_l1"))
    return (
        e.join(s, e["src"] == s["m_sid"])
        .filter((F.col("member") != F.col("src")) & (F.col("member") != F.col("dst")))
        .join(d, (e["dst"] == d["m_did"]) & (s["member"] == d["member"]))
        .select(*cols)
    )


def _endpoints(e: DataFrame) -> DataFrame:
    """(id) — the distinct endpoints of an (src, dst) edge subset, the
    ``sources`` that restrict a `_tagged_pairs2` expansion to it."""
    return (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )


def r_metrics_edges_pairs(
    edges: DataFrame,
    pairs: DataFrame,
    r_lvl1_thres: float,
    r_lvl2_thres: float,
) -> DataFrame:
    """Score every (src, dst) row of ``edges`` → (src, dst, r11, r12,
    r21, r22, keepit) with keepit = r11>t1 OR r12>t1 OR r21>t2 OR
    r22>t2 (udf_keep_edge_condition).

    ``pairs`` is a `_tagged_pairs2` table of the graph whose sources
    cover every endpoint of ``edges``: all vertices, or the endpoints
    of an edge subset (`_endpoints`). Counts and common members come
    from that table, so an edge's values depend only on its endpoints'
    neighborhoods in the graph, not on which other edges are scored.
    The caller builds the table and owns its blocks.

    Counts for BOTH levels come out of ONE aggregation (cnt1 = the
    is_l1 rows) and common members for BOTH levels out of ONE two-join
    expansion (a member common at level 1 is common at level 2 — p1 ⊆
    p2 — so it appears once, with both side tags true). Ratios are
    integer counts divided by integer counts.

    Scale note (r13 sub-phase attribution, PROBE_hgn_subphase_r13):
    the common-member expansion is the delete-rule phase's dominant
    term (49M rows / ~37 s per evaluation at 1000×), and Catalyst
    shares no subplans. The counts here stream it through map-side
    partial aggregation without materializing it; a caller that also
    needs members (the HGN loop's hybrid weights) checkpoints the pair
    table once, checkpoints the small candidate list (keepit=False)
    and reads the candidates' members off the same table with
    `_common_member_rows`, so the 2-hop build runs once per step.
    """
    e = edges.select("src", "dst")
    cnt = pairs.groupBy(F.col("src").alias("id")).agg(
        F.count("dst").alias("cnt_l2"),
        F.count(F.when(F.col("is_l1"), 1)).alias("cnt_l1"),
    )
    cc = (
        _common_member_rows(e, pairs, both_l1=True)
        .groupBy("src", "dst")
        .agg(
            F.count("*").alias("cc2"),
            F.count(F.when(F.col("both_l1"), 1)).alias("cc1"),
        )
    )

    def _cnt(side: str) -> DataFrame:
        return cnt.select(
            F.col("id").alias(f"{side}id"),
            F.col("cnt_l1").alias(f"cnt_{side}_l1"),
            F.col("cnt_l2").alias(f"cnt_{side}_l2"),
        )

    return (
        e.join(_cnt("src"), e["src"] == F.col("srcid"))
        .join(_cnt("dst"), e["dst"] == F.col("dstid"))
        .join(cc, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.coalesce("cc1", F.lit(0)).alias("cc1"),
            F.coalesce("cc2", F.lit(0)).alias("cc2"),
            "cnt_src_l1",
            "cnt_dst_l1",
            "cnt_src_l2",
            "cnt_dst_l2",
        )
        .withColumn("r11", _ratio(F.col("cc1"), F.col("cnt_src_l1")))
        .withColumn("r12", _ratio(F.col("cc1"), F.col("cnt_dst_l1")))
        .withColumn("r21", _ratio(F.col("cc2"), F.col("cnt_src_l2")))
        .withColumn("r22", _ratio(F.col("cc2"), F.col("cnt_dst_l2")))
        .select("src", "dst", "r11", "r12", "r21", "r22")
        .withColumn(
            "keepit",
            (F.col("r11") > r_lvl1_thres)
            | (F.col("r12") > r_lvl1_thres)
            | (F.col("r21") > r_lvl2_thres)
            | (F.col("r22") > r_lvl2_thres),
        )
    )


def candidate_common_members(
    edges: DataFrame,
    cand: DataFrame,
    edges_canonical: bool = False,
) -> DataFrame:
    """Level-2 common-member rows for a candidate edge subset, with the
    2-hop expansion source-restricted to the candidates' endpoints —
    the stand-alone form. A caller that also scores the edges (the HGN
    loop) materializes one `_tagged_pairs2` table for both and reads
    the members off it with `_common_member_rows` instead (see the
    scale note on r_metrics_edges_pairs)."""
    base = cand.select("src", "dst")
    return _common_member_rows(
        base,
        _tagged_pairs2(
            edges, sources=_endpoints(base), edges_canonical=edges_canonical
        ),
    )
