"""The HGN replay and the exact k-core peeling: tie handling, and
agreement with the registered oracles on the repository's testdata: sf0.01 and sf0.1 under
PERFBENCH_TESTDATA, or else next to hgn_spark.catalog's default
scale-factor directory; skipped only when neither holds them."""

import os
from fractions import Fraction

import pytest

from perfbench import gen, hgn_replay
from perfbench.check import canon_hash, core_numbers, duckdb_hash, partition_hash


def _graph(seed=1):
    ids, attr, e = gen.graph_edges(seed)
    return ({(int(a), int(b)) for a, b in e}, dict(zip(ids.tolist(), attr.tolist())))


class _Recording(dict):
    def __init__(self, *a):
        super().__init__(*a)
        self.reads = []

    def __getitem__(self, k):
        self.reads.append(k)
        return super().__getitem__(k)


def test_tie_branches_instead_of_guessing(monkeypatch):
    edges, attr = _graph()
    real = hgn_replay.betweenness(edges)
    rec = _Recording(real)
    monkeypatch.setattr(hgn_replay, "betweenness", lambda e: rec)
    base = hgn_replay.replay(edges, attr, hgn_replay.CASCADE)
    assert base["ties"] == [] and len(base["partitions"]) == 1
    first = rec.reads[0]
    tied = dict(real)
    tied[first] = Fraction(hgn_replay.CASCADE.betweenness_thres) + Fraction(1, 10**12)
    monkeypatch.setattr(hgn_replay, "betweenness", lambda e: tied)
    r = hgn_replay.replay(edges, attr, hgn_replay.CASCADE)
    assert first in r["ties"]
    assert 1 <= len(r["partitions"]) <= 2
    assert base["partitions"][0] in r["partitions"]


def test_too_many_ties_is_an_error(monkeypatch):
    edges, attr = _graph()
    thres = Fraction(hgn_replay.CASCADE.betweenness_thres)
    monkeypatch.setattr(hgn_replay, "betweenness", lambda e: dict.fromkeys(e, thres))
    with pytest.raises(RuntimeError):
        hgn_replay.replay(edges, attr, hgn_replay.CASCADE)


def _testdata() -> str:
    if os.environ.get("PERFBENCH_TESTDATA"):
        return os.environ["PERFBENCH_TESTDATA"]
    from hgn_spark.catalog import DEFAULT_SF_DIR

    return os.path.dirname(DEFAULT_SF_DIR)


def _testdata_dir(sf: str) -> str:
    data = os.path.join(_testdata(), sf)
    if not os.path.isdir(data):
        pytest.skip(f"no testdata at {data}; set PERFBENCH_TESTDATA")
    return data


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_replay_reproduces_registered_oracle(sf, tmp_path):
    import __spark_entry__

    data = _testdata_dir(sf)
    oracle = duckdb_hash(__spark_entry__.oracle_sql()["hgn_communities"], data,
                         str(tmp_path))
    edges, attr = hgn_replay.derived_graph(data)
    r = hgn_replay.replay(edges, attr, hgn_replay.REGISTERED)
    assert r["ties"] == []
    assert [partition_hash(p) for p in r["partitions"]] == [
        {"rows": oracle["rows"], "hash": oracle["hash"]}]


def test_core_numbers_small_graph():
    # A triangle with a pendant vertex: the triangle is the 2-core.
    assert core_numbers({(1, 2), (2, 3), (1, 3), (3, 4)}) == [(1, 2), (2, 2), (3, 2), (4, 1)]


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_core_numbers_reproduce_registered_oracle(sf, tmp_path):
    """Within the registered oracle's unroll bounds the two agree."""
    import __spark_entry__

    data = _testdata_dir(sf)
    oracle = duckdb_hash(__spark_entry__.oracle_sql()["graph_kcore"], data, str(tmp_path))
    edges, _ = hgn_replay.derived_graph(data)
    assert canon_hash(["id", "core"], core_numbers(edges)) == {
        "rows": oracle["rows"], "hash": oracle["hash"]}
