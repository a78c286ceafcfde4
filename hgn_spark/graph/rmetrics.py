"""r-metric edge scoring (SURVEY.md §2.9 G4) with native expressions.

The reference computes r11/r12 (level-1) and r21/r22 (level-2) per edge
with five row-at-a-time Python UDFs (graph_tools/graph_tools.py:389-404)
— every row pays a JVM→Python worker hop. Here the same math is four
joins plus native array functions (UD2→array_intersect/array_except,
UD3→size, UD4→when/otherwise, UD5→boolean expr), so the whole pipeline
stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hgn_spark.graph.core import neighbors, symmetrize


def _common_count(nb_src: Column, nb_dst: Column, src: Column, dst: Column) -> Column:
    """|(N(src) \\ {src,dst}) ∩ (N(dst) \\ {src,dst})| — the reference's
    udf_merge_neighbors + udf_add_counts (graph_tools.py:389-399)."""
    ends = F.array(src, dst)
    return F.size(F.array_intersect(F.array_except(nb_src, ends), F.array_except(nb_dst, ends)))


def _ratio(common: Column, count: Column) -> Column:
    """common/count guarding div-by-0 — udf_calculate_r_metrics
    (graph_tools.py:400-401)."""
    return F.when(count > 0, common.cast("double") / count).otherwise(F.lit(0.0))


def r_metrics_edges(
    edges: DataFrame,
    r_lvl1_thres: float,
    r_lvl2_thres: float,
    edges_canonical: bool = False,
) -> DataFrame:
    """Score every edge with r11/r12/r21/r22 and the keep decision.

    Returns (src, dst, common_neighbors, r11, r12, r21, r22, keepit)
    where common_neighbors is the LEVEL-2 common set (that is what the
    reference carries forward into the edge-weight pipeline,
    graph_tools/graph_tools.py:425-433) and
    keepit = r11>t1 OR r12>t1 OR r21>t2 OR r22>t2 (udf_keep_edge_condition).

    Plan shape: two neighbor aggregations (one shuffle each), then four
    src/dst-keyed joins against the edge list. Neighbor frames are much
    smaller than the edge list on dense graphs — AQE broadcasts them
    when they fit; otherwise the joins co-shuffle on the id key.
    """
    lvl1 = neighbors(edges, level=1, edges_canonical=edges_canonical)
    lvl2 = neighbors(edges, level=2, edges_canonical=edges_canonical)
    e = edges.select("src", "dst")

    def _join_level(frame: DataFrame, lvl: DataFrame, tag: str) -> DataFrame:
        s = lvl.select(
            F.col("id").alias(f"{tag}_sid"),
            F.col("count").alias(f"cnt_src_{tag}"),
            F.col("neighbors").alias(f"nb_src_{tag}"),
        )
        d = lvl.select(
            F.col("id").alias(f"{tag}_did"),
            F.col("count").alias(f"cnt_dst_{tag}"),
            F.col("neighbors").alias(f"nb_dst_{tag}"),
        )
        return (
            frame.join(s, frame["src"] == s[f"{tag}_sid"], "inner")
            .join(d, frame["dst"] == d[f"{tag}_did"], "inner")
            .drop(f"{tag}_sid", f"{tag}_did")
        )

    scored = (
        _join_level(e, lvl1, "l1")
        .withColumn(
            "cc1",
            _common_count(
                F.col("nb_src_l1"), F.col("nb_dst_l1"), F.col("src"), F.col("dst")
            ),
        )
        .withColumn("r11", _ratio(F.col("cc1"), F.col("cnt_src_l1")))
        .withColumn("r12", _ratio(F.col("cc1"), F.col("cnt_dst_l1")))
        .select("src", "dst", "r11", "r12")
    )

    scored = _join_level(scored, lvl2, "l2")
    common2 = F.array_intersect(
        F.array_except(F.col("nb_src_l2"), F.array(F.col("src"), F.col("dst"))),
        F.array_except(F.col("nb_dst_l2"), F.array(F.col("src"), F.col("dst"))),
    )
    scored = (
        scored.withColumn("common_neighbors", common2)
        .withColumn("r21", _ratio(F.size("common_neighbors"), F.col("cnt_src_l2")))
        .withColumn("r22", _ratio(F.size("common_neighbors"), F.col("cnt_dst_l2")))
        .select("src", "dst", "common_neighbors", "r11", "r12", "r21", "r22")
        .withColumn(
            "keepit",
            (F.col("r11") > r_lvl1_thres)
            | (F.col("r12") > r_lvl1_thres)
            | (F.col("r21") > r_lvl2_thres)
            | (F.col("r22") > r_lvl2_thres),
        )
    )
    return scored


def _common_member_rows(
    e: DataFrame, pt: DataFrame, both_l1: bool = False
) -> DataFrame:
    """(src, dst, member) rows: member ∈ N2(src) ∩ N2(dst), member ∉
    {src, dst} — the PAIR-FORM of the level-2 common-neighbor set,
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


def _tagged_pairs2(
    edges: DataFrame,
    sources: DataFrame | None = None,
    edges_canonical: bool = False,
) -> DataFrame:
    """Level-2 neighbor pairs carrying a level-1 membership tag —
    (src, dst, is_l1) with is_l1 true iff dst is ADJACENT to src.

    Because the level-2 neighborhood is defined as adjacent ∪ two-hop
    (neighbor_pairs' contract), p1 ⊆ p2: one tagged frame supports
    BOTH levels' counts and common-member sets, replacing the two
    separate neighbor_pairs subtrees (and their downstream
    aggregations/joins) the r14 shape executed per scoring pass
    (guide §2.3/§2.4 — one shuffle where two ran). The `distinct` of
    the untagged form becomes a groupBy+max over the same keys — the
    identical exchange, now also carrying the 1-byte tag.
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


def r_metrics_edges_pairs(
    edges: DataFrame,
    r_lvl1_thres: float,
    r_lvl2_thres: float,
    scope: DataFrame | None = None,
    edges_canonical: bool = False,
    pairs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """`r_metrics_edges` in PAIR FORM (VERDICT r12 #3 — the delete-rule
    mitigation dial, now executable): returns
    ``(scored, common_members2)`` where ``scored`` carries the same
    (src, dst, r11, r12, r21, r22, keepit) VALUES as the array form
    (integer counts divided by integer counts — bit-identical doubles;
    asserted equal in tests) and ``common_members2`` is the level-2
    common-neighbor set as (src, dst, member) rows, the input of
    weights.hybrid_edge_weights_members.

    Why this is the at-scale shape (`neighbors`' own scale note):
    the array form materializes per-vertex level-2 neighbor ARRAYS
    (collect_set over ~deg² elements), ships BOTH endpoint arrays
    through every edge join, then runs interpreted (non-codegen)
    array_intersect/array_except per edge. The pair form moves the
    identical element volume as flat (id, nb) rows through hash
    equi-joins inside whole-stage codegen, aggregates counts with
    map-side partial aggregation, and never builds a hub-sized array
    (the power-law hub that blows a collect_set buffer is just more
    rows here, which AQE skew-splits). PROBE_hgn_phases_r13 measures
    the two forms side by side at sf0.1 and the 1000×-class slice.

    Scale note (r13 sub-phase attribution, PROBE_hgn_subphase_r13):
    the common-member expansion is the delete-rule phase's dominant
    term (49M rows / ~37 s per evaluation at 1000×), and Catalyst
    shares no subplans — a consumer that reads the returned
    ``members2`` AND ``scored`` pays the expansion twice, and one
    that expands members separately pays the 2-hop build twice. Loop
    callers should instead materialize the step's tagged pair table
    once (``_tagged_pairs2(edges, sources=<scope endpoints or
    None>)``), pass it as ``pairs`` here, checkpoint the (small)
    candidate edge list and read the candidates' members off the same
    table with ``_common_member_rows`` — members are only ever consumed
    for keepit=False edges (the array form has the same asymmetry: it
    explodes only candidate rows). The HGN loop does exactly that.

    ``pairs``: a prebuilt ``_tagged_pairs2`` table of ``edges`` whose
    sources cover every scored edge's endpoints (all vertices, or the
    scope's endpoints). The caller owns its blocks.
    """
    # ``scope`` (r13, the incremental lever — hgn_communities builds
    # one when its scope gates open): an (src, dst) edge
    # subset to score INSTEAD of the full edge list. Neighborhood
    # counts and common members still come from the full graph
    # (values for a scoped edge equal the full call's, pinned by
    # test), but every expansion — the 2-hop self-join, the count
    # aggregations, the cc joins — is source-restricted to the
    # scope's endpoints, so step cost scales with |scope|, not |E|.
    e = (scope if scope is not None else edges).select("src", "dst")
    # One tagged level-2 pair frame instead of separate p1/p2 subtrees
    # (r15, guide §2.3/§2.4 — the per-step barrier-fusion VERDICT r14
    # #1 asks for): counts for BOTH levels come out of ONE aggregation
    # (cnt1 = the is_l1 rows) and common members for BOTH levels out of
    # ONE two-join expansion (a member common at level 1 is common at
    # level 2 — p1 ⊆ p2 — so it appears once, with both side tags
    # true). Values are the same integer counts as the unfused form,
    # hence bit-identical ratios (pinned against r_metrics_edges).
    pt = (
        pairs
        if pairs is not None
        else _tagged_pairs2(
            edges,
            sources=_endpoints(e) if scope is not None else None,
            edges_canonical=edges_canonical,
        )
    )
    cnt = pt.groupBy(F.col("src").alias("id")).agg(
        F.count("dst").alias("cnt_l2"),
        F.count(F.when(F.col("is_l1"), 1)).alias("cnt_l1"),
    )
    mm = _common_member_rows(e, pt, both_l1=True)
    cc = mm.groupBy("src", "dst").agg(
        F.count("*").alias("cc2"),
        F.count(F.when(F.col("both_l1"), 1)).alias("cc1"),
    )
    members2 = mm.select("src", "dst", "member")

    def _cnt(side: str) -> DataFrame:
        return cnt.select(
            F.col("id").alias(f"{side}id"),
            F.col("cnt_l1").alias(f"cnt_{side}_l1"),
            F.col("cnt_l2").alias(f"cnt_{side}_l2"),
        )

    scored = (
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
    return scored, members2


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
