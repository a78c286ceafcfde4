"""Algorithmic checks for the graph layer on hand-computed fixtures.

The fixture is two triangles {1,2,3} and {4,5,6} joined by the bridge
3-4, plus isolated vertex 7. Every expected value below is derived by
hand (the container has no networkx), which is exact for graphs this
size — the SURVEY §5 test plan.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hgn_spark.graph.betweenness import (
    _edge_betweenness_paths,
    edge_betweenness,
    edge_betweenness_brandes,
    edge_betweenness_sampled,
    shortest_paths,
)
from hgn_spark.graph.components import component_sizes, connected_components
from hgn_spark.graph.core import (
    _tagged_pairs2,
    degrees,
    drop_isolated_vertices,
    neighbors,
    symmetrize,
)
from hgn_spark.graph.hgn import HGNParams, hgn_communities
from hgn_spark.graph.rmetrics import (
    _common_member_rows,
    _endpoints,
    candidate_common_members,
    r_metrics_edges_pairs,
)
from hgn_spark.graph.weights import (
    hybrid_edge_weights_members,
    one_hot_cosine_similarities,
)
from tests.conftest import (
    REPO,
    SF_BENCH,
    SF_SMALL,
    SF_SMOKE,
    force_spark_loop,
    set_scope_gates,
)
from tests.test_reference_data import HAMSTER, QUAKERS

EDGES = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


@pytest.fixture(scope="module")
def vertices(spark):
    # attr: triangle membership; vertex 7 is isolated
    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "b"), (7, "c")]
    return spark.createDataFrame(rows, "id long, attr string")


def _as_dict(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def test_symmetrize(edges):
    sym = symmetrize(edges)
    assert sym.count() == 2 * len(EDGES)
    assert sym.filter("src = dst").count() == 0


def test_symmetrize_assume_canonical_same_rows(edges):
    """The r15 fast path (skip the dedup exchange when the input is
    guaranteed canonical) must return the identical ROW SET — the
    fixture IS canonical (src < dst, distinct), so both forms agree."""
    want = {(r["src"], r["dst"]) for r in symmetrize(edges).collect()}
    got = {
        (r["src"], r["dst"])
        for r in symmetrize(edges, assume_canonical=True).collect()
    }
    assert got == want


def test_rmetrics_pairs_canonical_flag_identical(edges):
    """Scoring through a pair table built with edges_canonical=True
    (the HGN loop's and the graph_rmetrics row's call shape) equals the
    safe default on canonical input — scored values and member rows
    both."""
    pt0 = _tagged_pairs2(edges)
    pt1 = _tagged_pairs2(edges, edges_canonical=True)
    s0 = r_metrics_edges_pairs(edges, pt0, 0.25, 0.9)
    s1 = r_metrics_edges_pairs(edges, pt1, 0.25, 0.9)
    m0 = _common_member_rows(edges, pt0)
    m1 = _common_member_rows(edges, pt1)
    key = lambda r: (r["src"], r["dst"])  # noqa: E731
    assert {key(r): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
            for r in s0.collect()} == {
        key(r): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
        for r in s1.collect()
    }
    assert {(r["src"], r["dst"], r["member"]) for r in m0.collect()} == {
        (r["src"], r["dst"], r["member"]) for r in m1.collect()
    }


def test_degrees(edges):
    got = _as_dict(degrees(edges), "id", "degree")
    assert got == {1: 2, 2: 2, 3: 3, 4: 3, 5: 2, 6: 2}


def test_neighbors_lvl1_and_isolated(edges, vertices):
    nb = neighbors(edges, vertices=vertices, level=1)
    got = {r["id"]: (r["count"], sorted(r["neighbors"])) for r in nb.collect()}
    assert got[3] == (3, [1, 2, 4])
    assert got[7] == (0, [])  # isolated vertex: count 0, empty array


def test_neighbors_lvl2(edges):
    nb = neighbors(edges, level=2)
    got = {r["id"]: sorted(r["neighbors"]) for r in nb.collect()}
    assert got[1] == [2, 3, 4]          # 1-hop {2,3} ∪ 2-hop {4}
    assert got[3] == [1, 2, 4, 5, 6]    # includes both triangle interiors
    assert got[4] == [1, 2, 3, 5, 6]


def test_shortest_path_lengths(edges):
    """Truncated BFS distances are the (src, dst, distance) projection
    of shortest_paths: one distance per ordered pair."""
    sp = shortest_paths(edges, max_len=2).select("src", "dst", "distance").distinct()
    rows = sp.collect()
    got = {(r["src"], r["dst"]): r["distance"] for r in rows}
    assert len(got) == len(rows)
    assert got[(1, 2)] == 1
    assert got[(1, 4)] == 2
    assert got[(3, 5)] == 2
    assert (1, 5) not in got  # distance 3: beyond truncation
    assert (1, 1) not in got


def test_rmetrics(edges):
    pt = _tagged_pairs2(edges)
    scored = r_metrics_edges_pairs(edges, pt, r_lvl1_thres=0.25, r_lvl2_thres=0.9)
    rows = {(r["src"], r["dst"]): r for r in scored.collect()}
    e12 = rows[(1, 2)]
    assert e12["r11"] == pytest.approx(0.5)  # CN={3}, deg(1)=2
    assert e12["r12"] == pytest.approx(0.5)
    assert e12["keepit"] is True
    bridge = rows[(3, 4)]
    assert bridge["r11"] == 0.0 and bridge["r12"] == 0.0  # no lvl1 CN
    members = _common_member_rows(edges, pt).filter("src = 3 AND dst = 4")
    assert sorted(r["member"] for r in members.collect()) == [1, 2, 5, 6]  # lvl2 CN
    assert bridge["r21"] == pytest.approx(4 / 5)  # |CN|=4, |lvl2(3)|=5
    assert bridge["r22"] == pytest.approx(4 / 5)
    assert bridge["keepit"] is False  # 0.8 < 0.9 threshold


def test_betweenness_fractional(edges):
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edges, max_sp_length=2).collect()
    }
    # d1: every edge gets 2 (both orientations). d2 paths (σ=1 each):
    # 1-3-4, 2-3-4, 3-4-5, 3-4-6 — each ordered both ways (+2 per edge).
    assert got[(1, 2)] == pytest.approx(2.0)
    assert got[(1, 3)] == pytest.approx(4.0)
    assert got[(2, 3)] == pytest.approx(4.0)
    assert got[(3, 4)] == pytest.approx(10.0)  # bridge: 2 + 4 paths × 2
    assert got[(4, 5)] == pytest.approx(4.0)
    assert got[(5, 6)] == pytest.approx(2.0)


def test_betweenness_compat_single_path(spark):
    # Square 1-2-4-3-1: pair (1,4) has σ=2 (via 2 or 3). Compat keeps one
    # path (smallest mid=2); fractional splits 0.5/0.5.
    sq = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    frac = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(sq).collect()
    }
    # edge (1,2): d1=2; paths 1-2-4 (σ=2, both directions) → +2·(1/2)=1;
    # paths 2-1-3 (σ=1... wait (2,3) non-adjacent, mids {1,4} → σ=2) → +1.
    assert frac[(1, 2)] == pytest.approx(2.0 + 1.0 + 1.0)
    compat = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(sq, compat_single_path=True).collect()
    }
    # (1,4) keeps only mid=2 path; (2,3) keeps only mid=1 path.
    assert compat[(1, 2)] == pytest.approx(2.0 + 2.0 + 2.0)
    assert compat[(3, 4)] == pytest.approx(2.0)  # loses both picks


def test_betweenness_compat_max_length_only(spark):
    """§8.3 compat: only max-length paths credit (the reference's
    progressive-filter bug). Path graph 1-2-3 at k=2: default credits
    distance-1 pairs (each edge +2) AND the distance-2 pair through
    both edges (+2 over two ordered directions); compat drops the
    distance-1 credit entirely."""
    pg = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    full = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(pg, max_sp_length=2).collect()
    }
    assert full == {(1, 2): pytest.approx(4.0), (2, 3): pytest.approx(4.0)}
    compat = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(
            pg, max_sp_length=2, compat_max_length_only=True
        ).collect()
    }
    # only the two ordered distance-2 paths (1→3, 3→1), each crossing
    # both edges once
    assert compat == {(1, 2): pytest.approx(2.0), (2, 3): pytest.approx(2.0)}


def test_betweenness_k3_path_graph(spark):
    # Path 1-2-3-4-5 truncated at k=3: every pair ≤3 has σ=1.
    # Edge {2,3} lies on ordered pairs (1,3),(1,4),(2,3),(2,4),(2,5)
    # and their reverses → 10; edge {1,2} on (1,2),(1,3),(1,4) → 6.
    pg = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(pg, max_sp_length=3).collect()
    }
    assert got == {
        (1, 2): pytest.approx(6.0),
        (2, 3): pytest.approx(10.0),
        (3, 4): pytest.approx(10.0),
        (4, 5): pytest.approx(6.0),
    }


@pytest.mark.parametrize("k", [1, 2, 3])
def test_brandes_equals_path_enumeration(edges, k):
    """The σ/δ accumulation variant is output-identical to the
    path-enumeration default at every truncation depth (same edge set,
    values to 1e-9) — here on the two-triangle bridge fixture, whose
    diameter (3) exercises a non-trivial deepest layer at k=3."""
    # The enumeration body is called directly — edge_betweenness would
    # route k=3 through sigma too (measured crossover at k > 2), making
    # the comparison vacuous.
    a = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in _edge_betweenness_paths(edges, max_sp_length=k).collect()
    }
    b = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(edges, max_sp_length=k).collect()
    }
    assert set(a) == set(b)
    for e, v in a.items():
        assert abs(b[e] - v) < 1e-9, (e, b[e], v)


def test_sampled_betweenness_exact_on_sampled_sources(spark, edges):
    """Source-sampled betweenness: fraction >= 1 is bit-identical to
    the full Brandes run; a partial fraction equals a pure-Python GN
    accumulation restricted to the SAME md5-sampled sources, scaled by
    n/k — the estimator is exact per sampled source, not just unbiased
    in expectation."""
    import hashlib
    from collections import deque

    from hgn_spark.graph.betweenness import (
        edge_betweenness_brandes,
        edge_betweenness_sampled,
    )

    full = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(edges, max_sp_length=2).collect()
    }
    same = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_sampled(
            edges, max_sp_length=2, source_fraction=1.0
        ).collect()
    }
    assert same == full

    frac = 0.5
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_sampled(
            edges, max_sp_length=2, source_fraction=frac
        ).collect()
    }
    # pure-Python mirror: GN fractional credits from ordered pairs
    # whose source is in the same md5 sample, scaled by n/k
    adj: dict[int, set[int]] = {}
    for r in edges.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    thr = format(int(frac * 2**32), "08x")
    sampled = {
        v
        for v in adj
        if hashlib.md5(str(v).encode()).hexdigest()[:8] < thr
    }
    assert 0 < len(sampled) < len(adj)
    want: dict[tuple[int, int], float] = {}
    for s in sampled:
        # truncated BFS with sigma, depth <= 2
        dist, sig, parents = {s: 0}, {s: 1.0}, {}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= 2:
                continue
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sig[w] = 0.0
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sig[w] += sig[u]
                    parents.setdefault(w, []).append(u)
        # backward delta accumulation
        delta = {v: 0.0 for v in dist}
        for w in sorted(dist, key=lambda v: -dist[v]):
            for u in parents.get(w, []):
                c = sig[u] / sig[w] * (1.0 + delta[w])
                e = (min(u, w), max(u, w))
                want[e] = want.get(e, 0.0) + c
                delta[u] += c
    scale = len(adj) / len(sampled)
    want = {e: v * scale for e, v in want.items()}
    assert set(got) == set(want)
    for e, v in got.items():
        assert abs(v - want[e]) < 1e-9, (e, v, want[e])


def test_brandes_multi_path_split(spark):
    """Square 1-2-4-3-1: pair (1,4) has σ=2, so Brandes must split the
    credit — the case where single-path shortcuts diverge."""
    sq = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(sq, max_sp_length=2).collect()
    }
    # Same hand-derived values as test_betweenness_compat_single_path's
    # fractional half: d1 both orientations (2) + half-credit 2-paths.
    assert got[(1, 2)] == pytest.approx(4.0)
    assert got[(3, 4)] == pytest.approx(4.0)


def test_shortest_paths_arrays(edges):
    sp = {
        (r["src"], r["dst"]): r
        for r in shortest_paths(edges, max_len=2).collect()
    }
    r = sp[(1, 4)]
    assert r["distance"] == 2
    assert [(e["src"], e["dst"]) for e in r["path"]] == [(1, 3), (3, 4)]


def test_connected_components(edges, vertices, spark):
    comps = _as_dict(connected_components(edges, vertices), "id", "component")
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7}
    cut = spark.createDataFrame(
        [e for e in EDGES if e != (3, 4)], "src long, dst long"
    )
    comps2 = _as_dict(connected_components(cut), "id", "component")
    assert comps2 == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_component_sizes_and_small_filter(spark):
    cut = spark.createDataFrame(
        [e for e in EDGES if e != (3, 4)] + [(8, 9)], "src long, dst long"
    )
    comps = connected_components(cut)
    sizes = _as_dict(component_sizes(comps, min_size=3), "component", "n_members")
    assert sizes == {1: 3, 4: 3}  # the 2-node component {8,9} filtered out


def test_drop_isolated(edges, vertices):
    kept = drop_isolated_vertices(vertices, edges)
    assert sorted(r["id"] for r in kept.collect()) == [1, 2, 3, 4, 5, 6]


def test_one_hot_cosine(edges, vertices):
    sims = _as_dict(
        one_hot_cosine_similarities(edges, vertices, ["attr"]).withColumn(
            "key", F.concat_ws("-", "src", "dst")
        ),
        "key",
        "similarity",
    )
    assert sims["1-2"] == 1.0  # same attr
    assert sims["3-4"] == 0.0  # across triangles


def test_ml_pipeline_cosine_equals_closed_form(spark):
    """The reference's StringIndexer(keep)→OneHotEncoder(dropLast)→
    VectorAssembler pipeline yields the SAME cosines as the closed form
    on fit==transform data: keep's unseen bucket sits at the last index
    and dropLast removes exactly that slot (SURVEY §8.9+§8.10 cancel)."""
    from hgn_spark.graph.weights import ml_one_hot_cosine_similarities

    verts = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "p"), (3, "y", "q"), (4, "z", "q"), (5, "x", "r")],
        "id long, f1 string, f2 string",
    )
    es = spark.createDataFrame([(1, 2), (3, 4), (1, 4), (1, 5)], "src long, dst long")
    ml = {
        (r["src"], r["dst"]): round(r["similarity"], 9)
        for r in ml_one_hot_cosine_similarities(es, verts, ["f1", "f2"]).collect()
    }
    cf = {
        (r["src"], r["dst"]): round(r["similarity"], 9)
        for r in one_hot_cosine_similarities(es, verts, ["f1", "f2"]).collect()
    }
    assert ml == cf
    assert ml[(1, 2)] == 1.0 and ml[(3, 4)] == 0.5 and ml[(1, 4)] == 0.0


def test_hybrid_edge_weights_members(edges, vertices):
    pt = _tagged_pairs2(edges)
    scored = r_metrics_edges_pairs(edges, pt, 0.25, 0.9)
    cand_members = _common_member_rows(edges, pt).join(
        scored.filter(~F.col("keepit")).select("src", "dst"),
        ["src", "dst"],
        "left_semi",
    )
    sims = one_hot_cosine_similarities(edges, vertices, ["attr"])
    sims = sims.union(
        sims.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "similarity")
    )
    w = hybrid_edge_weights_members(cand_members, sims, feature_min_avg=0.6).collect()
    # Only candidate is the bridge (3,4); CN={1,2,5,6}; sim edges fully
    # inside: (1,2) sim 1.0 and (5,6) sim 1.0 → weight 2/2 = 1.0.
    assert len(w) == 1
    assert (w[0]["src"], w[0]["dst"]) == (3, 4)
    assert w[0]["edge_weight"] == pytest.approx(1.0)


def test_hgn_loop_splits_triangles(edges, vertices):
    params = HGNParams(
        r_lvl1_thres=0.25,
        r_lvl2_thres=0.9,
        max_edge_weight=0.9,
        betweenness_thres=5.0,
        feature_min_avg=0.6,
        max_steps=5,
    )
    comps = _as_dict(
        hgn_communities(vertices, edges, ["attr"], params), "id", "component"
    )
    # Bridge weight 1.0 ≥ 0.9 but betweenness 10 > 5 → deleted; triangles
    # survive (all keepit). Isolated 7 dropped.
    assert comps == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


@pytest.mark.parametrize(
    "sf,structured",
    [
        (SF_SMOKE, False),
        pytest.param(
            SF_BENCH,
            True,
            marks=pytest.mark.skipif(
                not os.path.isdir(SF_BENCH), reason="sf0.1 data absent"
            ),
        ),
    ],
    ids=["smoke", "sf0.1"],
)
def test_rmetrics_matches_python_sets_reference(spark, sf, structured):
    """The scorer against an independent driver-side reference on the
    real derived graph: per edge, level-1/level-2 neighborhoods as
    plain Python sets, their sizes, the common members, the four
    ratios and keepit. Integer counts divided by integer counts, so
    the doubles must be equal, not close. The smoke graph is five
    disjoint edges (every ratio 0); sf0.1's 2,824 edges carry common
    members and both keepit outcomes."""
    from hgn_spark.graph.queries import R1_THRES, R2_THRES, derived_edges

    e = derived_edges(spark, sf)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    n1: dict[int, set[int]] = {}
    for u, v in pairs:
        n1.setdefault(u, set()).add(v)
        n1.setdefault(v, set()).add(u)
    n2 = {
        v: (nb | {w for u in nb for w in n1[u]}) - {v} for v, nb in n1.items()
    }
    want_scored, want_members, want_cc = {}, set(), {}
    for s, d in pairs:
        c1 = (n1[s] & n1[d]) - {s, d}
        c2 = (n2[s] & n2[d]) - {s, d}
        r = (
            len(c1) / len(n1[s]),
            len(c1) / len(n1[d]),
            len(c2) / len(n2[s]),
            len(c2) / len(n2[d]),
        )
        keep = r[0] > R1_THRES or r[1] > R1_THRES or r[2] > R2_THRES or r[3] > R2_THRES
        want_scored[(s, d)] = (*r, keep)
        want_members |= {(s, d, m) for m in c2}
        if c2:
            want_cc[(s, d)] = (len(c1), len(c2))
    if structured:
        assert {v[4] for v in want_scored.values()} == {True, False}
        assert want_members

    pt = _tagged_pairs2(e, edges_canonical=True)
    got_counts = {
        r["src"]: (r["c1"], r["c2"])
        for r in pt.groupBy("src")
        .agg(F.count(F.when(F.col("is_l1"), 1)).alias("c1"), F.count("*").alias("c2"))
        .collect()
    }
    assert got_counts == {v: (len(n1[v]), len(n2[v])) for v in n1}
    got_scored = {
        (r["src"], r["dst"]): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
        for r in r_metrics_edges_pairs(e, pt, R1_THRES, R2_THRES).collect()
    }
    assert got_scored == want_scored
    members = _common_member_rows(e, pt, both_l1=True)
    assert {
        (r["src"], r["dst"], r["member"]) for r in members.collect()
    } == want_members
    got_cc = {
        (r["src"], r["dst"]): (r["c1"], r["c2"])
        for r in members.groupBy("src", "dst")
        .agg(F.count(F.when(F.col("both_l1"), 1)).alias("c1"), F.count("*").alias("c2"))
        .collect()
    }
    assert got_cc == want_cc


def test_candidate_common_members_matches_full(edges):
    """The loop-shaped candidate-only member expansion equals the full
    member frame filtered to keepit=False edges — the restriction the
    r13 sub-phase attribution justified (weights only ever consume
    candidate members). On the fixture the bridge (3,4) is the sole
    candidate at these thresholds, with level-2 common members
    {1,2,5,6}."""
    pt = _tagged_pairs2(edges)
    scored = r_metrics_edges_pairs(edges, pt, 0.25, 0.9)
    members_all = _common_member_rows(edges, pt)
    cand = scored.filter(~F.col("keepit")).select("src", "dst")
    want = {
        (r["src"], r["dst"], r["member"])
        for r in members_all.join(cand, ["src", "dst"], "left_semi").collect()
    }
    got = {
        (r["src"], r["dst"], r["member"])
        for r in candidate_common_members(edges, cand).collect()
    }
    assert got == want
    assert got == {(3, 4, m) for m in (1, 2, 5, 6)}


def test_triangles_and_clustering(edges):
    from hgn_spark.graph.core import triangles

    got = _as_dict(triangles(edges), "id", "triangles")
    # each vertex of the two triangles closes exactly one; the bridge
    # 3-4 closes none
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}


def test_triangles_networkx_parity(spark):
    """Degree-ordered edge-iterator vs networkx on the sf0.001 derived
    graph — exact count parity for every triangle-bearing vertex."""
    nx = pytest.importorskip("networkx")

    from hgn_spark.graph.queries import derived_edges
    from hgn_spark.graph.core import triangles
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in e.collect()])
    expect = {k: v for k, v in nx.triangles(G).items() if v > 0}
    got = _as_dict(triangles(e), "id", "triangles")
    assert got == expect


def test_pagerank_fixture(edges):
    """Symmetric-triangle fixture: ranks sum to 1 and the higher-degree
    bridge endpoints (3, 4) outrank the interior vertices."""
    from hgn_spark.graph.pagerank import pagerank

    got = _as_dict(pagerank(edges, n_iter=30), "id", "pagerank")
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert set(got) == {1, 2, 3, 4, 5, 6}
    for interior in (1, 2, 5, 6):
        assert got[3] > got[interior]
        assert got[4] > got[interior]
    # symmetry of the fixture: mirror vertices have equal ranks
    assert abs(got[3] - got[4]) < 1e-12
    assert abs(got[1] - got[6]) < 1e-12


def test_pagerank_reference_power_iteration_parity(spark):
    """Same update, same uniform start, same iteration count → values
    match an independent pure-Python power iteration to float tolerance
    on the sf0.001 derived graph (networkx.pagerank needs scipy, which
    this container lacks; the hand-rolled loop below is the same
    textbook update networkx implements)."""
    from hgn_spark.graph.pagerank import pagerank
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    adj: dict[int, set[int]] = {}
    for r in e.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    n = len(adj)
    d = 0.85
    n_iter = 60
    pr = {v: 1.0 / n for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            s = sum(pr[u] / len(adj[u]) for u in adj[v])
            nxt[v] = (1.0 - d) / n + d * s
        pr = nxt
    got = _as_dict(pagerank(e, n_iter=n_iter), "id", "pagerank")
    assert set(got) == set(pr)
    for k, v in got.items():
        assert abs(v - pr[k]) < 1e-9, (k, v, pr[k])


def test_personalized_pagerank_matches_pure_python(spark):
    """Seeded teleport: same update, same seed-mass start, same
    iteration count → matches an independent pure-Python loop; seed
    relevance concentrates near the seeds and an empty seed set
    raises."""
    import pytest as _pytest

    from hgn_spark.graph.pagerank import personalized_pagerank
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    adj: dict[int, set[int]] = {}
    for r in e.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    seeds = sorted(adj)[:2]
    spark_seeds = spark.createDataFrame([(s,) for s in seeds], "id long")
    d, n_iter = 0.85, 40
    ns = len(seeds)
    pr = {v: (1.0 / ns if v in seeds else 0.0) for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            s = sum(pr[u] / len(adj[u]) for u in adj[v])
            tele = (1.0 - d) / ns if v in seeds else 0.0
            nxt[v] = tele + d * s
        pr = nxt
    got = _as_dict(
        personalized_pagerank(e, spark_seeds, n_iter=n_iter), "id", "pagerank"
    )
    assert set(got) == set(pr)
    for k, v in got.items():
        assert abs(v - pr[k]) < 1e-9, (k, v, pr[k])
    # seeds hold the teleport mass → rank at a seed beats the median
    ranked = sorted(got.values())
    assert all(got[s] > ranked[len(ranked) // 2] for s in seeds)
    with _pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(
            e, spark.createDataFrame([(999999,)], "id long")
        )


def test_pagerank_fused_matches_separate_loops(spark):
    """The fused dual-recurrence loop (one join+agg per round carrying
    both rank columns — the registered row's execution path) equals
    the single-vector `pagerank` and `personalized_pagerank` run
    separately, column for column (1e-9: same recurrence, different
    float summation schedules)."""
    from pyspark.sql import functions as F

    from hgn_spark.graph.pagerank import (
        pagerank,
        pagerank_fused,
        personalized_pagerank,
    )
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    seeds = (
        e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(2)
    )
    fused = {
        r["id"]: (r["pr_uniform"], r["pr_ppr"])
        for r in pagerank_fused(e, seeds, n_iter=20).collect()
    }
    uni = _as_dict(pagerank(e, n_iter=20), "id", "pagerank")
    ppr = _as_dict(personalized_pagerank(e, seeds, n_iter=20), "id", "pagerank")
    assert set(fused) == set(uni) == set(ppr)
    for k, (u, p) in fused.items():
        assert abs(u - uni[k]) < 1e-9, (k, u, uni[k])
        assert abs(p - ppr[k]) < 1e-9, (k, p, ppr[k])


@pytest.mark.parametrize(
    "entry", ["pagerank", "personalized_pagerank", "pagerank_fused"]
)
def test_pagerank_fused_round_plan_shape(spark, monkeypatch, entry):
    """Every entry point's round runs the one shared power iteration:
    its physical plan carries each rank sum through ONE aggregation
    with a map-side partial (partial_sum per rank column — for the
    fused pair, the one-shuffle-per-round-for-the-pair claim), one
    equi-join, and no cartesian/BNLJ. Captured at localCheckpoint time
    (the round frames are materialized eagerly, so the final plan alone
    would start at a checkpoint scan)."""
    from pyspark.sql import functions as F

    from hgn_spark.graph import pagerank as pr_mod
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE
    from tests.test_plan_guard import _checkpoint_patch_target

    DataFrame = _checkpoint_patch_target()
    captured = []
    orig = DataFrame.localCheckpoint

    def patched(self, eager=True, **kw):
        captured.append(
            spark._jvm.PythonSQLUtils.explainString(
                self._jdf.queryExecution(), "formatted"
            )
        )
        return orig(self, eager, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", patched)
    e = derived_edges(spark, SF_SMOKE)
    seeds = (
        e.select(F.col("src").alias("id")).distinct().orderBy("id").limit(2)
    )
    fn = getattr(pr_mod, entry)
    args = (e,) if entry == "pagerank" else (e, seeds)
    fn(*args, n_iter=1, checkpoint_interval=1)
    rounds = [p for p in captured if "partial_sum" in p]
    assert rounds, "no round plan captured (map-side partial missing?)"
    p = rounds[-1]
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # Every rank sum rides ONE aggregation: a partial_sum call per rank
    # column, not an aggregation subtree per column (HashAggregate
    # appears once per side of the final/partial pair).
    assert p.count("partial_sum") >= (2 if entry == "pagerank_fused" else 1)
    # THE fusion invariant: exactly one aggregation subtree (one
    # partial + one final HashAggregate), computing every sum — a
    # regression to per-column plans would double these.
    # (Count node-detail headers — the formatted plan names each node
    # twice: once in the tree, once in its detail block.)
    import re

    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", p, re.M))
    assert n_agg == 2, p
    # Shuffle budget of the STATIC round plan: one join (two input
    # exchanges in the conservative pre-AQE plan; AQE broadcasts the
    # |V|-row rank side at runtime) + the groupBy(dst) exchange. More
    # means a second join/agg chain crept in.
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_exchange <= 3, p


def test_core_numbers_fixture(edges):
    """Two triangles + bridge: every triangle vertex is 2-core, and
    adding a pendant vertex demotes nothing but itself."""
    from hgn_spark.graph.kcore import core_numbers

    got = _as_dict(core_numbers(edges), "id", "core")
    assert got == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2}
    pendant = edges.sparkSession.createDataFrame(
        EDGES + [(6, 8)], "src long, dst long"
    )
    got2 = _as_dict(core_numbers(pendant), "id", "core")
    assert got2[8] == 1
    assert all(got2[v] == 2 for v in (1, 2, 3, 4, 5, 6))


def test_core_numbers_raises_on_guard_before_fixpoint(edges):
    """A guard too small for convergence must fail loudly, not return
    the not-yet-converged labels (which would be silent UPPER bounds —
    the h-operator descends from degrees; same contract as the old
    peeling guard, ADVICE r5)."""
    import pytest

    from hgn_spark.graph.kcore import core_numbers

    with pytest.raises(RuntimeError, match="max_iter"):
        core_numbers(edges, max_iter=1).collect()


def test_core_numbers_path_and_barbell(spark):
    """The VERDICT r7 watch item: the documented O(diameter) round
    behavior on path-like graphs, pinned. A 60-vertex path is the
    h-operator's worst shape — core-1 information walks inward one hop
    per round, so it needs ~n/2 rounds (a 10k path would take ~5000
    Spark rounds; the behavior is diameter-linear regardless of n, so
    the fixture pins the regime at a wall-clock-sane size):

    - the default (proven (2m+1)·interval) budget completes and every
      core is 1;
    - a barbell (two K5s joined by that path) completes with cores 4
      in the cliques and 2 on the path (both path ends attach to a
      clique, so no vertex ever has degree < 2 and the whole bridge
      survives 2-core peeling) — the mixed-depth shape;
    - an explicit budget below the path's ~diameter/2 rounds raises
      loudly instead of returning unconverged labels.
    """
    from hgn_spark.graph.kcore import core_numbers

    n = 60
    path = [(i, i + 1) for i in range(1, n)]
    pdf = spark.createDataFrame(path, "src long, dst long")
    got = _as_dict(core_numbers(pdf), "id", "core")
    assert got == {v: 1 for v in range(1, n + 1)}

    with pytest.raises(RuntimeError, match="max_iter"):
        # ~n/2 rounds are REQUIRED on a path; 6 is far below 30.
        core_numbers(pdf, max_iter=6).collect()

    k5a = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    k5b = [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
    barbell = k5a + k5b + [(100, 1), (n, 200)] + path
    bdf = spark.createDataFrame(barbell, "src long, dst long")
    got_b = _as_dict(core_numbers(bdf), "id", "core")
    nx = pytest.importorskip("networkx")
    G = nx.Graph(barbell)
    assert got_b == nx.core_number(G)
    assert all(got_b[100 + i] == 4 for i in range(5))
    assert all(got_b[200 + i] == 4 for i in range(5))
    assert all(got_b[v] == 2 for v in range(1, n + 1))


def test_core_numbers_networkx_parity(spark):
    nx = pytest.importorskip("networkx")

    from hgn_spark.graph.kcore import core_numbers
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in e.collect()])
    expect = nx.core_number(G)
    got = _as_dict(core_numbers(e), "id", "core")
    assert got == expect


def _sync_lpa(edges: list[tuple[int, int]], n_iter: int) -> dict[int, int]:
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    lab = {v: v for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            c = Counter(lab[w] for w in adj[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        lab = nxt
    return lab


def test_label_propagation_fixture(edges):
    """Two triangles + bridge: each triangle collapses onto its min
    label; parity with an independent synchronous-LPA implementation."""
    from hgn_spark.graph.lpa import label_propagation

    got = _as_dict(label_propagation(edges, n_iter=10), "id", "label")
    assert got == _sync_lpa(EDGES, 10)
    # the two triangles end as (at most) two communities
    assert len(set(got.values())) <= 2


def test_label_propagation_derived_graph_parity(spark):
    from hgn_spark.graph.lpa import label_propagation
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    pairs = [(r.src, r.dst) for r in e.collect()]
    got = _as_dict(label_propagation(e, n_iter=10), "id", "label")
    assert got == _sync_lpa(pairs, 10)


def test_modularity_networkx_parity(spark):
    """modularity_score == networkx.community.modularity on the derived
    graph under the LPA partition, and on a hand-checked fixture."""
    nx = pytest.importorskip("networkx")
    import networkx.algorithms.community as nxc

    from hgn_spark.graph.core import modularity_score
    from hgn_spark.graph.lpa import label_propagation
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    comm = label_propagation(e, n_iter=10).select(
        "id", F.col("label").alias("community")
    )
    got = modularity_score(e, comm).first()

    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in e.collect()])
    groups: dict = {}
    for r in comm.collect():
        groups.setdefault(r["community"], set()).add(r["id"])
    want = nxc.modularity(G, list(groups.values()))
    assert abs(got["modularity"] - want) < 1e-6
    assert got["n_edges"] == G.number_of_edges()
    assert got["n_communities"] == len(groups)

    # fixture: two triangles + bridge, split at the bridge -> Q = 10/49
    fix = spark.createDataFrame(EDGES, "src long, dst long")
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)], "id long, community long"
    )
    q = modularity_score(fix, assign).first()["modularity"]
    Gf = nx.Graph()
    Gf.add_edges_from(EDGES)
    wantf = nxc.modularity(Gf, [{1, 2, 3}, {4, 5, 6}])
    assert abs(q - wantf) < 1e-6


def test_core_numbers_path_graph_default_guard(spark):
    """Regression (r7 review): h-operator rounds track propagation
    DEPTH, not degree — a 250-vertex path (max degree 2, all cores 1)
    needs ~125 rounds, which the old fixed max_iter=100 default
    wrongly aborted. The n-bounded default must converge."""
    from hgn_spark.graph.kcore import core_numbers

    n = 250
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = _as_dict(core_numbers(path, checkpoint_interval=25), "id", "core")
    assert len(got) == n
    assert set(got.values()) == {1}


def test_loop_final_generations_parked(spark):
    """Loop operators park their FINAL checkpoint generation in the
    loose store (r8: previously only k-core did — the other
    loops' finals lingered until async GC, the measurement cost the
    checkpoint module documents). CC is the cheap representative; its
    returned plan lazily references the parked star forest, so the
    blocks must stay live until clear_session_caches."""
    from hgn_spark import checkpoint as cp
    from hgn_spark.graph.components import connected_components
    from hgn_spark.registry import clear_session_caches

    clear_session_caches()
    e = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    cc = connected_components(e)
    assert cc.count() == 5
    parked = (
        set().union(*cp._LOOSE_BLOCK_IDS.values())
        if cp._LOOSE_BLOCK_IDS
        else set()
    )
    assert parked, "connected_components must park its star-forest blocks"
    clear_session_caches()


PATH60 = [(i, i + 1) for i in range(1, 60)]


def test_connected_components_raises_on_guard_before_fixpoint(spark):
    """A max_iter that runs out before the round signature repeats
    fails loudly instead of returning a partition that is not the
    fixpoint (same contract as core_numbers); the default budget
    finishes the 60-vertex path."""
    path = spark.createDataFrame(PATH60, "src long, dst long")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(path, max_iter=2)
    got = _as_dict(connected_components(path), "id", "component")
    assert len(got) == 60 and set(got.values()) == {1}


@pytest.mark.parametrize(
    "call",
    [
        lambda e: edge_betweenness(e, 3),
        lambda e: shortest_paths(e, 3),
        lambda e: edge_betweenness_sampled(e, 4),
    ],
    ids=["sigma_k3", "shortest_paths_k3", "sampled_k4"],
)
def test_betweenness_checkpoints_released_on_clear(spark, edges, call):
    """The σ/δ layers, the k >= 3 path levels and the sampled source
    set are loose checkpoints: clear_session_caches frees every one of
    them, leaving no persistent RDD beyond the set from before the
    call."""
    from hgn_spark.checkpoint import persistent_rdd_ids
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    before = persistent_rdd_ids(spark)
    assert call(edges).collect()
    clear_session_caches(blocking=True)
    assert persistent_rdd_ids(spark) - before == set()


def test_loops_release_every_generation_on_error(spark, monkeypatch, edges):
    """A loop that fails part-way leaves no checkpoint generation
    behind: connected_components with its third round raising,
    personalized_pagerank with no seed in the graph, and core_numbers
    stopped by its guard. (Checked as "nothing new persisted": the
    async cleaner may still drop older, unrelated RDDs meanwhile.)"""
    from hgn_spark.checkpoint import persistent_rdd_ids
    from hgn_spark.graph import components as cc_mod
    from hgn_spark.graph.kcore import core_numbers
    from hgn_spark.graph.pagerank import personalized_pagerank
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    path = spark.createDataFrame(PATH60, "src long, dst long")
    rounds = []
    orig = cc_mod._small_star

    def failing(b):
        rounds.append(1)
        if len(rounds) == 3:
            raise RuntimeError("round 3 failed")
        return orig(b)

    before = persistent_rdd_ids(spark)
    monkeypatch.setattr(cc_mod, "_small_star", failing)
    with pytest.raises(RuntimeError, match="round 3"):
        connected_components(path)
    monkeypatch.undo()
    assert persistent_rdd_ids(spark) - before == set()

    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(edges, spark.createDataFrame([(999,)], "id long"))
    assert persistent_rdd_ids(spark) - before == set()

    with pytest.raises(RuntimeError, match="max_iter"):
        core_numbers(edges, max_iter=1)
    assert persistent_rdd_ids(spark) - before == set()


@pytest.mark.skipif(not os.path.isdir(SF_SMALL), reason="sf0.01 data absent")
def test_rmetrics_scoped_equals_full_filtered(spark):
    """ADVICE r13 #3: direct row-for-row pin of the scope contract —
    scoring an edge subset against a pair table source-restricted to
    its endpoints (the HGN loop's scoped step) must equal the full
    call filtered to the same edges (all four ratios + keepit), on the
    real derived graph with an arbitrary scope subset. Previously only
    covered transitively via end-to-end community equality, which
    could mask a scoped-scoring bug that happens not to change final
    components. The sf0.01 graph (235 edges, maximum degree 10) gives
    the scope common members and nonzero ratios to compare."""
    from hgn_spark.graph.queries import R1_THRES, R2_THRES, derived_edges

    e = derived_edges(spark, SF_SMALL)
    # arbitrary, deterministic, non-trivial subset (~1/3 of edges)
    scope = e.filter((F.col("src") + F.col("dst")) % 3 == 0)
    assert 0 < scope.count() < e.count()

    pt_full = _tagged_pairs2(e)
    pt_scope = _tagged_pairs2(e, sources=_endpoints(scope))
    full_scored = r_metrics_edges_pairs(e, pt_full, R1_THRES, R2_THRES)
    full_members = _common_member_rows(e, pt_full)
    scoped_scored = r_metrics_edges_pairs(scope, pt_scope, R1_THRES, R2_THRES)
    scoped_members = _common_member_rows(scope, pt_scope)
    keys = {(r["src"], r["dst"]) for r in scope.collect()}
    want = {
        (r["src"], r["dst"]): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
        for r in full_scored.collect()
        if (r["src"], r["dst"]) in keys
    }
    got = {
        (r["src"], r["dst"]): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
        for r in scoped_scored.collect()
    }
    assert got == want and set(got) == keys
    assert any(any(v[:4]) for v in got.values())  # some nonzero ratio
    # the member rows obey the same contract
    want_m = {
        (r["src"], r["dst"], r["member"])
        for r in full_members.collect()
        if (r["src"], r["dst"]) in keys
    }
    got_m = {
        (r["src"], r["dst"], r["member"]) for r in scoped_members.collect()
    }
    assert got_m == want_m and got_m


def test_betweenness_auto_approx_dispatch(edges):
    """edge_betweenness at k=4 stays exact: bit-equal to the sigma
    kernel (the sampled estimator is only reached by calling
    edge_betweenness_sampled)."""
    exact = _as_dict(
        edge_betweenness(edges, 4).withColumn(
            "k", F.concat_ws("-", "src", "dst")
        ),
        "k",
        "betweenness",
    )
    sigma = _as_dict(
        edge_betweenness_brandes(edges, 4).withColumn(
            "k", F.concat_ws("-", "src", "dst")
        ),
        "k",
        "betweenness",
    )
    assert exact == sigma


def _cc_collect_signature(edges):
    """The large-star/small-star loop with its round signature read by
    a separate collect() per round — the formulation
    connected_components used before the signature moved into the
    checkpoint job. Returns ({id: component} over edge endpoints,
    rounds)."""
    from hgn_spark.graph.components import _large_star, _small_star

    b = symmetrize(edges).localCheckpoint()
    prev, rounds = None, 0
    for _ in range(30):
        b = _small_star(_large_star(b)).localCheckpoint()
        rounds += 1
        row = b.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).collect()[0]
        if (row["n"], row["h"]) == prev:
            break
        prev = (row["n"], row["h"])
    mapping = {r["src"]: r["dst"] for r in b.collect()}
    ids = {v for r in edges.collect() for v in (r["src"], r["dst"])}
    return {v: mapping.get(v, v) for v in ids}, rounds


@pytest.mark.parametrize("graph", ["path", "barbell", "derived"])
def test_connected_components_checkpoint_signature_matches_collect(
    spark, monkeypatch, graph
):
    """connected_components reads its round signature (n, bit_xor of
    row hashes) from the checkpoint's own job. It must stop after the
    SAME number of rounds and return the SAME partition as the
    collect()-per-round signature it replaced — an observation placed
    on the wrong frame reads back constant and stops the loop early."""
    from hgn_spark.checkpoint import CheckpointJanitor

    if graph == "derived":
        from hgn_spark.graph.queries import derived_edges
        from tests.conftest import SF_SMOKE

        e = derived_edges(spark, SF_SMOKE)
    else:
        # the k-core test's fixtures: a 60-vertex path, and two K5s
        # joined through it
        path = [(i, i + 1) for i in range(1, 60)]
        k5a = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
        k5b = [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
        barbell = k5a + k5b + [(100, 1), (60, 200)] + path
        e = spark.createDataFrame(
            path if graph == "path" else barbell, "src long, dst long"
        )
    want, want_rounds = _cc_collect_signature(e)

    rounds = []
    orig = CheckpointJanitor.counted

    def counting(self, df, **observe):
        rounds.append(1)
        return orig(self, df, **observe)

    monkeypatch.setattr(CheckpointJanitor, "counted", counting)
    got = _as_dict(connected_components(e), "id", "component")
    assert got == want
    assert len(rounds) == want_rounds
    if graph == "path":
        # a 60-vertex path needs several rounds, so an early stop shows
        assert want_rounds > 2 and set(got.values()) == {1}


_GATES_CASES = ["gates_default", "gates_forced_open"]


def _assert_scope_gates(t: dict, gates: str) -> None:
    """On the fixture, step 2 builds and keeps a scope (all 6 surviving
    edges) only with the gates forced open; the shipped pre-gate stays
    shut after 1 of 7 edges is deleted."""
    want = [6] if gates == "gates_forced_open" else [None]
    assert t["n_scope_per_step"] == want
    assert t["n_scored_per_step"] == [7, 6]


@pytest.mark.parametrize("gates", _GATES_CASES)
def test_hgn_actions_are_checkpoint_materializations(
    edges, vertices, monkeypatch, gates
):
    """Every count/collect/isEmpty issued while hgn_communities' Spark
    loop runs (the in-process finish bound patched to 0) comes from a
    checkpoint's own materializing job (issued from
    hgn_spark/checkpoint.py): the loop's gates and connected
    components' round signature read their numbers off those jobs, not
    off separate driver actions. The fixture runs two steps (the
    bridge is deleted, then nothing), so the per-step gates run; with
    the scope gates forced open, step 2 scores a scope. Every step's
    pair table is checkpointed serialized."""
    import os
    import sys

    from pyspark import StorageLevel
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from hgn_spark.checkpoint import CheckpointJanitor

    force_spark_loop(monkeypatch)
    set_scope_gates(monkeypatch, gates)
    pair_levels = []
    orig_checkpoint = CheckpointJanitor.checkpoint

    def checkpoint(self, df, **kw):
        if df.columns == ["src", "dst", "is_l1"]:
            pair_levels.append(kw.get("storage_level"))
        return orig_checkpoint(self, df, **kw)

    monkeypatch.setattr(CheckpointJanitor, "checkpoint", checkpoint)
    callers: list[tuple[str, str]] = []
    for name in ("count", "collect", "isEmpty"):
        orig = getattr(ClassicDF, name)

        def wrapped(self, *a, _orig=orig, _name=name, **k):
            callers.append((_name, sys._getframe(1).f_code.co_filename))
            return _orig(self, *a, **k)

        monkeypatch.setattr(ClassicDF, name, wrapped)
    t: dict = {}
    out = hgn_communities(
        vertices,
        edges,
        ["attr"],
        HGNParams(
            r_lvl1_thres=0.25,
            r_lvl2_thres=0.9,
            max_edge_weight=0.9,
            betweenness_thres=5.0,
            feature_min_avg=0.6,
            max_steps=5,
        ),
        phase_timings=t,
    )
    monkeypatch.undo()
    assert t["n_deleted_per_step"] == [1, 0]
    _assert_scope_gates(t, gates)
    assert pair_levels == [StorageLevel.MEMORY_AND_DISK] * 2
    ckpt = os.path.join("hgn_spark", "checkpoint.py")
    stray = [c for c in callers if not c[1].endswith(ckpt)]
    assert not stray, stray
    # the wrapper is live: CC's observed round counts pass through it
    assert any(n == "count" for n, _ in callers)
    assert _as_dict(out, "id", "component") == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4
    }


@pytest.mark.skipif(not os.path.isdir(SF_BENCH), reason="sf0.1 data absent")
def test_hgn_scoped_steps_match_full_scoring(spark, monkeypatch):
    """The scoped delete rule on a real deletion cascade: the derived
    graph at sf0.1 under the cascade config of
    scripts/scale_probe_hgn_cascade.py, in the Spark loop (the
    in-process finish bound patched to 0). The shipped gates open for
    steps 5 and 6 (the steps before deleted 21 and 2 edges, under 2% of
    the 1,277 and 1,275 left) and keep scopes under 1/3 of the edges;
    with both gates shut
    every step scores all edges. Both runs delete the same edges per
    step, the counts of the pure-Python replay, and land on the same
    communities."""
    from hgn_spark.catalog import load_table
    from hgn_spark.graph.queries import derived_edges

    edges = derived_edges(spark, SF_BENCH)
    verts = load_table(spark, SF_BENCH, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("nationkey")
    )
    params = HGNParams(
        r_lvl1_thres=0.5,
        r_lvl2_thres=0.5,
        max_edge_weight=0.4,
        betweenness_thres=3.0,
        feature_min_avg=0.5,
        max_steps=6,
    )

    def run(gates):
        force_spark_loop(monkeypatch)
        set_scope_gates(monkeypatch, gates)
        t: dict = {}
        comps = sorted(
            (r["id"], r["component"])
            for r in hgn_communities(
                verts, edges, ["nationkey"], params, phase_timings=t,
                edges_canonical=True,
            ).collect()
        )
        return t, comps

    t_def, comps_def = run("gates_default")
    t_shut, comps_shut = run("gates_shut")
    full = t_shut["n_scored_per_step"]
    assert full == [2824, 1465, 1334, 1298, 1277, 1275]
    assert t_shut["n_scope_per_step"] == [None] * 5
    scoped = [
        (n_scope, n_edges)
        for n_scope, n_edges in zip(t_def["n_scope_per_step"], full[1:])
        if n_scope is not None
    ]
    assert scoped and all(3 * n_scope < n_edges for n_scope, n_edges in scoped)
    assert t_def["n_scored_per_step"] == [2824, 1465, 1334, 1298, 389, 46]
    assert (
        t_def["n_deleted_per_step"]
        == t_shut["n_deleted_per_step"]
        == [1359, 131, 36, 21, 2, 0]
    )
    assert comps_def == comps_shut


def _hgn_parity_input(spark, graph: str):
    """(vertices, edges, feature columns, params, edges_canonical) of
    one parity graph: the derived graph at sf0.01 (r-metric thresholds
    0.75, which delete [30, 9, 7, 0]; the registered row's 0.25
    deletes nothing there) and sf0.1 (the cascade probe's config), a
    preferential-attachment graph with hubs (400 vertices, 1,975
    edges, max degree 90; the cascade probe's config), and the
    reference's Quakers and Hamsterster networks with their conf
    files' options, capped at three steps."""
    from hgn_spark.catalog import load_table
    from hgn_spark.graph.queries import derived_edges
    from hgn_spark.sources.csv import load_edges_csv, load_nodes_csv

    if graph == "hubs":
        import random

        import networkx as nx

        g = nx.barabasi_albert_graph(400, 5, seed=3)
        rng = random.Random(3)
        verts = spark.createDataFrame(
            [(v, rng.randrange(25)) for v in g.nodes()], "id long, nationkey int"
        )
        edges = spark.createDataFrame(
            sorted((min(a, b), max(a, b)) for a, b in g.edges()), "src long, dst long"
        )
        params = HGNParams(
            r_lvl1_thres=0.5,
            r_lvl2_thres=0.5,
            max_edge_weight=0.4,
            betweenness_thres=3.0,
            feature_min_avg=0.5,
            max_steps=6,
        )
        return verts, edges, ["nationkey"], params, True
    if graph.startswith("sf"):
        sf = SF_SMALL if graph == "sf0.01" else SF_BENCH
        verts = load_table(spark, sf, "supplier").select(
            F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("nationkey")
        )
        r, mw, bt = (0.75, 0.5, 2.0) if graph == "sf0.01" else (0.5, 0.4, 3.0)
        params = HGNParams(
            r_lvl1_thres=r,
            r_lvl2_thres=r,
            max_edge_weight=mw,
            betweenness_thres=bt,
            feature_min_avg=0.5,
            max_steps=6,
        )
        return verts, derived_edges(spark, sf), ["nationkey"], params, True
    params = HGNParams(
        r_lvl1_thres=0.50,
        r_lvl2_thres=0.85,
        max_edge_weight=0.50,
        betweenness_thres=10.0,
        feature_min_avg=0.33,
        max_steps=3,
        max_sp_length=2,
    )
    if graph == "quakers":
        nodes = load_nodes_csv(
            spark,
            f"{QUAKERS}/quakers_nodelist.csv2",
            feature_names=["id", "Historical_Significance", "Gender", "Birthdate",
                           "Deathdate", "internal_id"],
            has_header=True,
            encoding="ISO-8859-1",
        )
        edges = load_edges_csv(
            spark, f"{QUAKERS}/quakers_edgelist.csv2", has_header=True
        )
        return nodes, edges, ["Gender"], params, False
    nodes = load_nodes_csv(
        spark,
        f"{HAMSTER}/nodes",
        feature_names=["id", "name", "joined", "species", "coloring", "gender",
                       "birthday", "age", "hometown", "favorite_toy",
                       "favorite_activity", "favorite_foo"],
        delimiter="|",
        has_header=True,
        encoding="ISO-8859-1",
    )
    edges = load_edges_csv(spark, f"{HAMSTER}/edges", delimiter=" ", has_header=True)
    return nodes, edges, ["species", "coloring", "hometown"], params, False


@pytest.mark.parametrize(
    "graph",
    [
        pytest.param(
            g,
            marks=pytest.mark.skipif(not os.path.exists(path), reason=f"{g} absent"),
        )
        for g, path in (
            ("sf0.01", SF_SMALL),
            ("sf0.1", SF_BENCH),
            ("hubs", REPO),
            ("quakers", QUAKERS),
            ("hamsterster", HAMSTER),
        )
    ],
)
def test_hgn_driver_finish_matches_spark_loop(spark, monkeypatch, graph):
    """Within the driver-memory budget hgn_communities finishes
    in-process: with the shipped budget every graph here takes the
    in-process finish from step 1, and with it patched to 0 the Spark
    loop runs every
    step. Both land on the same communities, the same deletions per
    step, the same output schema and the same phase_timings keys and
    per-step list lengths."""
    from hgn_spark.graph import hgn as hgn_mod

    vertices, edges, features, params, canonical = _hgn_parity_input(spark, graph)
    first_steps = []
    orig = hgn_mod._collect_init
    t: dict = {}

    def spy(*args):
        # the driver takes over: the step it opens is the first one
        # it runs in-process
        first_steps.append(t["n_steps"])
        return orig(*args)

    monkeypatch.setattr(hgn_mod, "_collect_init", spy)

    def run():
        t.clear()
        out = hgn_communities(
            vertices, edges, features, params, phase_timings=t,
            edges_canonical=canonical,
        )
        return dict(t), out.schema, sorted(tuple(r) for r in out.collect())

    t_drv, schema_drv, comps_drv = run()
    assert first_steps == [1]
    force_spark_loop(monkeypatch)
    t_spk, schema_spk, comps_spk = run()
    assert first_steps == [1]
    assert comps_drv == comps_spk and comps_drv
    assert schema_drv == schema_spk
    assert t_drv["n_deleted_per_step"] == t_spk["n_deleted_per_step"]
    assert sum(t_drv["n_deleted_per_step"]) > 0
    assert set(t_drv) == set(t_spk)
    for key in ("n_scored_per_step", "loop_delete_rule_per_step", "n_scope_per_step"):
        assert len(t_drv.get(key, [])) == len(t_spk.get(key, [])), key


def test_level2_bound_covers_the_level2_sets():
    """The in-process finish's memory estimate reads Σ deg², which
    bounds the level-2 entries its delete rule holds: tight on a star (every leaf sees the
    hub and all other leaves), loose on a triangle (shared neighbours)."""
    from hgn_spark.graph.hgn import _level2_bound

    def level2_entries(adj):
        return sum(
            len(set(nv).union(*(adj[w] for w in nv)) - {v}) for v, nv in adj.items()
        )

    star = {0: {1, 2, 3, 4, 5}, **{i: {0} for i in range(1, 6)}}
    triangle = {0: {1, 2}, 1: {0, 2}, 2: {0, 1}}
    path = {1: {2}, 2: {1, 3}, 3: {2}}
    assert _level2_bound(star) == level2_entries(star) == 30
    assert (_level2_bound(triangle), level2_entries(triangle)) == (12, 6)
    assert _level2_bound(path) == level2_entries(path) == 6


@pytest.mark.skipif(not os.path.isdir(SF_BENCH), reason="sf0.1 data absent")
def test_hgn_hands_off_from_spark_steps_to_in_process_finish(spark, monkeypatch):
    """A generation over the driver-memory budget runs its step in
    Spark; once the deletions bring its estimated working set under the
    budget the next step finishes in-process. With the budget one byte
    under the initial sf0.1 graph's estimate (the pre-check on its edge
    count passes, so the edge collect decides and is dropped), step 1
    runs in Spark and steps 2+ in-process, and the run deletes and
    groups exactly as the Spark loop does."""
    from hgn_spark.graph import hgn as hgn_mod

    vertices, edges, features, params, canonical = _hgn_parity_input(spark, "sf0.1")
    adj0 = hgn_mod._collect_adjacency(edges)
    n0 = sum(len(nv) for nv in adj0.values()) // 2
    budget = hgn_mod._driver_finish_bytes(n0, hgn_mod._level2_bound(adj0)) - 1
    assert hgn_mod._driver_finish_bytes(n0, 2 * n0) <= budget
    first_steps = []
    orig = hgn_mod._collect_init
    t: dict = {}

    def spy(*args):
        # the driver takes over: the step it opens is the first one
        # it runs in-process
        first_steps.append(t["n_steps"])
        return orig(*args)

    monkeypatch.setattr(hgn_mod, "_collect_init", spy)

    def run():
        t.clear()
        out = hgn_communities(
            vertices, edges, features, params, phase_timings=t,
            edges_canonical=canonical,
        )
        return dict(t), out.schema, sorted(tuple(r) for r in out.collect())

    monkeypatch.setattr(hgn_mod, "_DRIVER_FINISH_BUDGET_BYTES", budget)
    t_mix, schema_mix, comps_mix = run()
    assert first_steps == [2]
    force_spark_loop(monkeypatch)
    t_spk, schema_spk, comps_spk = run()
    assert first_steps == [2]
    assert comps_mix == comps_spk and comps_mix
    assert schema_mix == schema_spk
    assert (
        t_mix["n_deleted_per_step"]
        == t_spk["n_deleted_per_step"]
        == [1359, 131, 36, 21, 2, 0]
    )
    assert t_mix["n_steps"] == t_spk["n_steps"] == 6
    assert set(t_mix) == set(t_spk)
    for key in ("n_scored_per_step", "loop_delete_rule_per_step", "n_scope_per_step"):
        assert len(t_mix[key]) == len(t_spk[key]), key
    # Step 1 scored every edge in Spark; each in-process step scores
    # every edge left and builds no scope.
    assert t_mix["n_scored_per_step"][0] == n0
    left = n0 - 1359
    for scored, deleted in zip(
        t_mix["n_scored_per_step"][1:], t_mix["n_deleted_per_step"][1:]
    ):
        assert scored == left
        left -= deleted
    assert t_mix["n_scope_per_step"] == [None] * 5


@pytest.mark.skipif(not os.path.isdir(SF_SMALL), reason="sf0.01 data absent")
def test_shared_pair_table_members_match_full_expansion(spark):
    """One tagged level-2 pair table serves both HGN consumers: scoring
    through the materialized table equals scoring through the lazy
    one, and the candidates' member rows read off the same table
    (_common_member_rows) equal the full member expansion filtered to
    the candidates — for the full table and for a scope-restricted
    one. Also pins the stand-alone candidate_common_members to them.
    On the sf0.01 graph (235 edges, maximum degree 10), so scores and
    member sets are not all empty; at thresholds 0.6 two edges are
    candidates (the registered 0.25 keeps every edge there)."""
    from hgn_spark.graph.queries import derived_edges

    e = derived_edges(spark, SF_SMALL)
    thres = 0.6

    def rows(df, cols):
        return {tuple(r[c] for c in cols) for r in df.collect()}

    score_cols = ["src", "dst", "r11", "r12", "r21", "r22", "keepit"]
    member_cols = ["src", "dst", "member"]
    full_members = _common_member_rows(e, _tagged_pairs2(e))
    scope = e.filter((F.col("src") + F.col("dst")) % 3 == 0)
    for sc in (None, scope):
        lazy = _tagged_pairs2(e, sources=_endpoints(sc) if sc is not None else None)
        pt = lazy.localCheckpoint()
        target = sc if sc is not None else e
        scored = r_metrics_edges_pairs(target, pt, thres, thres)
        self_built = r_metrics_edges_pairs(target, lazy, thres, thres)
        got_scores = rows(scored, score_cols)
        assert got_scores == rows(self_built, score_cols)
        assert any(any(r[2:6]) for r in got_scores)  # some nonzero ratio
        cand = scored.filter(~F.col("keepit")).select("src", "dst")
        assert cand.count() > 0
        want = rows(full_members.join(cand, ["src", "dst"], "left_semi"), member_cols)
        assert want  # some candidate has a common member
        assert rows(_common_member_rows(cand, pt), member_cols) == want
        assert rows(candidate_common_members(e, cand), member_cols) == want
