"""Generator determinism and workload validity across seeds."""

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, hgn_replay

SEEDS = range(1, 21)


@pytest.mark.parametrize("family", sorted(gen.WRITERS))
def test_same_seed_same_bytes(family, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(family, 5, a)
    gen.generate(family, 5, b)
    gen.generate(family, 6, c)
    assert gen.dir_digest(a) == gen.dir_digest(b)
    assert gen.dir_digest(a) != gen.dir_digest(c)


def test_schemas_match_testdata_tables(tmp_path):
    """Same column names and types as the standard testdata tables."""
    expected = {
        "supplier": "s_suppkey: int64, s_name: string, s_nationkey: int32, "
                    "s_acctbal: double",
        "lineitem": "l_orderkey: int64, l_partkey: int64, l_suppkey: int64, "
                    "l_linenumber: int32, l_quantity: double, l_extendedprice: "
                    "double, l_discount: double, l_tax: double, l_returnflag: "
                    "string, l_linestatus: string, l_shipdate: timestamp[us]",
        "documents": "doc_id: int64, text: string, lang: string, source: string, "
                     "n_chars: int64",
        "embeddings": "vec_id: int64, embedding: list<element: float>, label: int32",
    }
    for family in gen.WRITERS:
        gen.generate(family, 1, str(tmp_path))
    for table, cols in expected.items():
        schema = pq.read_schema(os.path.join(tmp_path, f"{table}.parquet"))
        got = ", ".join(f"{f.name}: {f.type}" for f in schema)
        assert got == cols, table


@pytest.mark.parametrize("seed", SEEDS)
def test_graph_sizes_and_cascade(seed):
    """Fixed sizes, and every seed gives a multi-step HGN cascade with
    more than one community (the replay is the workload's reference)."""
    ids, attr, e = gen.graph_edges(seed)
    assert len(ids) == gen.GRAPH_VERTICES == len(set(ids.tolist()))
    assert len(e) == gen.GRAPH_INTRA_EDGES + gen.GRAPH_INTER_EDGES
    assert (e[:, 0] < e[:, 1]).all() and (e[:, 0] % 5 == e[:, 1] % 5).all()
    r = hgn_replay.replay({(int(a), int(b)) for a, b in e},
                          dict(zip(ids.tolist(), attr.tolist())), hgn_replay.CASCADE)
    assert sum(1 for d in r["deleted_per_step"] if d) >= 2
    assert len(r["scored_per_step"]) == hgn_replay.CASCADE.max_steps
    assert min(len({c for _, c in p}) for p in r["partitions"]) > 1


def _near_dup_pairs(texts, thres=0.8):
    sh = []
    for t in texts:
        w = [x for x in t.lower().split(" ") if x]
        sh.append({" ".join(w[i:i + 3]) for i in range(len(w) - 2)})
    index: dict = {}
    for d, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(d)
    pairs = set()
    for docs in index.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                if (a, b) not in pairs:
                    inter = len(sh[a] & sh[b])
                    if inter / len(sh[a] | sh[b]) >= thres:
                        pairs.add((a, b))
    return pairs


@pytest.mark.parametrize("seed", SEEDS)
def test_corpus_has_dedup_pairs_pii_and_contamination(seed):
    texts = gen.corpus_texts(seed)
    assert len(texts) == gen.CORPUS_DOCS
    assert _near_dup_pairs(texts)
    assert any("@" in t for t in texts)
    evals = [t.split() for d, t in enumerate(texts) if d % gen.EVAL_MOD == 0]
    grams = {" ".join(w[i:i + 7]) for w in evals for i in range(len(w) - 6)}
    hits = sum(1 for d, t in enumerate(texts) if d % gen.EVAL_MOD
               and any(" ".join(w) in grams for w in
                       [t.split()[i:i + 7] for i in range(len(t.split()) - 6)]))
    assert hits > 0
