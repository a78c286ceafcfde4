"""Property-based validation of the iterative graph algorithms against
exact driver-side oracles on random small graphs (hypothesis).

Spark round-trips per example are expensive, so examples are few but
adversarially shrunk by hypothesis; the fixed-fixture tests in
test_graph.py cover the hand-verified values."""

from __future__ import annotations

from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hgn_spark.graph.betweenness import shortest_paths
from hgn_spark.graph.components import connected_components

edge_lists = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=25,
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            find(u)
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # Normalize: every node → min id in its component.
    comp: dict[int, int] = {}
    for n in list(parent):
        comp[n] = find(n)
    return comp


def _bfs_dists(edges: list[tuple[int, int]], max_len: int) -> dict[tuple[int, int], int]:
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    out: dict[tuple[int, int], int] = {}
    for s in adj:
        frontier, seen, d = {s}, {s}, 0
        while frontier and d < max_len:
            d += 1
            frontier = {w for u in frontier for w in adj[u]} - seen
            for w in frontier:
                out[(s, w)] = d
            seen |= frontier
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    want = _union_find(real)
    want = {n: c for n, c in want.items()}
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_sp_lengths_match_bfs(spark, edges):
    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {
        (r["src"], r["dst"]): r["distance"]
        for r in shortest_paths(df, max_len=3)
        .select("src", "dst", "distance")
        .distinct()
        .collect()
    }
    assert got == _bfs_dists(real, max_len=3)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_sp_lengths_deep_truncation(spark, edges):
    """max_len >= 4: every deeper level extends the previous level's
    loose checkpoint and anti-joins the union of all earlier levels,
    so a level that read freed or stale blocks shows up here (the
    shipped k=2/3 depths never reach that far)."""
    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {
        (r["src"], r["dst"]): r["distance"]
        for r in shortest_paths(df, max_len=5)
        .select("src", "dst", "distance")
        .distinct()
        .collect()
    }
    assert got == _bfs_dists(real, max_len=5)


def _brute_triangles(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    out = {
        v: sum(
            1
            for a in adj[v]
            for b in adj[v]
            if a < b and b in adj[a]
        )
        for v in adj
    }
    return {v: c for v, c in out.items() if c > 0}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_triangles_match_brute_force(spark, edges):
    from hgn_spark.graph.core import triangles

    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {r["id"]: r["triangles"] for r in triangles(df).collect()}
    assert got == _brute_triangles(real)


def _peel_cores(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict[int, int] = {}
    k = 1
    alive = set(adj)
    while alive:
        peel = {v for v in alive if deg[v] < k}
        while peel:
            for v in peel:
                core[v] = k - 1
                alive.discard(v)
                for w in adj[v]:
                    if w in alive:
                        deg[w] -= 1
            peel = {v for v in alive if deg[v] < k}
        k += 1
    return core


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_core_numbers_match_peeling(spark, edges):
    from hgn_spark.graph.kcore import core_numbers

    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {r["id"]: r["core"] for r in core_numbers(df).collect()}
    assert got == _peel_cores(real)


def _py_pagerank(edges: list[tuple[int, int]], n_iter: int, d: float = 0.85):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    n = len(adj)
    pr = {v: 1.0 / n for v in adj}
    for _ in range(n_iter):
        pr = {
            v: (1.0 - d) / n + d * sum(pr[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    return pr


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_pagerank_matches_reference(spark, edges):
    from hgn_spark.graph.pagerank import pagerank

    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {r["id"]: r["pagerank"] for r in pagerank(df, n_iter=12).collect()}
    want = _py_pagerank(real, 12)
    assert set(got) == set(want)
    for k, v in got.items():
        assert abs(v - want[k]) < 1e-9


def _py_sync_lpa(edges: list[tuple[int, int]], n_iter: int):
    from collections import Counter

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    lab = {v: v for v in adj}
    for _ in range(n_iter):
        lab = {
            v: max(Counter(lab[w] for w in adj[v]).items(),
                   key=lambda kv: (kv[1], -kv[0]))[0]
            for v in adj
        }
    return lab


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_label_propagation_matches_reference(spark, edges):
    from hgn_spark.graph.lpa import label_propagation

    real = [(u, v) for u, v in edges if u != v]
    if not real:
        return
    df = spark.createDataFrame(real, "src long, dst long")
    got = {r["id"]: r["label"] for r in label_propagation(df, n_iter=8).collect()}
    assert got == _py_sync_lpa(real, 8)
