"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only and never imports ``hgn_spark``, so the
code under test cannot shape its own inputs. Every table is written in
the schema of the repository's standard testdata tables, so the
registered queries and their DuckDB oracles read the generated
directory exactly as they read a testdata scale-factor directory.

The same seed gives byte-identical parquet files (``dir_digest``).
Sizes are fixed per workload; only the contents depend on the seed, so
runs on different seeds measure the same amount of work.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever any generated byte changes: cached reference answers
# are keyed by (workload, seed, GEN_VERSION).
GEN_VERSION = 2

# --- graph (hgn_cascade, operators) ----------------------------------
GRAPH_VERTICES = 2000
GRAPH_COMMUNITIES = 20
GRAPH_INTRA_EDGES = 8000
GRAPH_INTER_EDGES = 1000
# Share of vertices whose categorical attribute is drawn at random
# instead of from their community's value.
GRAPH_ATTR_NOISE = 0.2
N_NATIONS = 25
# derived_edges keeps lineitem rows with l_quantity >= 49; filler rows
# sit below that cut.
GRAPH_FILLER_ROWS = 8000

# --- corpus (operators: curation) -------------------------------------
CORPUS_DOCS = 300
VOCAB = 3000
ZIPF_S = 0.7
STOPWORDS = ("the", "a", "of", "and", "to")
STOPWORD_RATE = 0.08
DOC_TOKENS = (30, 90)
SHORT_DOC_RATE = 0.03  # below the 20-token quality gate
EXACT_DUP_RATE = 0.04
PII_VARIANT_DUP_RATE = 0.02  # duplicates that differ only in PII
NEAR_DUP_RATE = 0.05
PII_RATE = 0.10
CONTAMINATION_RATE = 0.03
EVAL_MOD = 29  # doc_id % EVAL_MOD == 0 is the held-out eval slice
LANGS = ("en", "es", "de", "fr", "zh")
N_SOURCES = 20

# --- embeddings (operators: similarity search) -------------------------
EMB_VECTORS = 300
EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_SPREAD = 0.35


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table family, so adding a table to one
    family never shifts another family's bytes."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# --- graph ---------------------------------------------------------------


def graph_edges(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Planted-partition graph → (vertex ids, attribute per vertex,
    canonical edge array of shape (m, 2) with src < dst).

    Each community is a ring (so it is connected) plus random chords;
    the remaining edges join random vertices of different communities.
    Edge counts are exact, so every seed has the same graph size.
    """
    rng = _rng(seed, "graph")
    n, k = GRAPH_VERTICES, GRAPH_COMMUNITIES
    comm = np.arange(n) % k
    rng.shuffle(comm)
    members = [np.flatnonzero(comm == c) for c in range(k)]
    # derived_edges only pairs suppliers in the same id bucket mod 5:
    # community c lives in bucket c % 5, so the graph is five
    # independent parts, and inter-community edges stay in-bucket.
    bucket = comm % 5
    slot = rng.permutation(n).astype(np.int64)
    ids = 5 * (slot + 1) + bucket
    for r in range(5):
        # Distinct ids within a bucket: re-rank the slots of its vertices.
        sel = np.flatnonzero(bucket == r)
        ids[sel] = 5 * (np.argsort(np.argsort(slot[sel])) + 1) + r

    edges: set[tuple[int, int]] = set()

    def add(u: int, v: int) -> bool:
        a, b = (u, v) if ids[u] < ids[v] else (v, u)
        if u == v or (a, b) in edges:
            return False
        edges.add((a, b))
        return True

    for mem in members:
        for i in range(len(mem)):
            add(int(mem[i]), int(mem[(i + 1) % len(mem)]))
    while len(edges) < GRAPH_INTRA_EDGES:
        c = int(rng.integers(k))
        u, v = rng.choice(members[c], 2, replace=False)
        add(int(u), int(v))
    target = GRAPH_INTRA_EDGES + GRAPH_INTER_EDGES
    while len(edges) < target:
        u, v = rng.integers(n, size=2)
        if comm[u] != comm[v] and bucket[u] == bucket[v]:
            add(int(u), int(v))

    nation_of_comm = rng.integers(N_NATIONS, size=k)
    attr = nation_of_comm[comm]
    noisy = rng.random(n) < GRAPH_ATTR_NOISE
    attr[noisy] = rng.integers(N_NATIONS, size=int(noisy.sum()))

    pairs = np.array(sorted(edges), dtype=np.int64)
    return ids, attr.astype(np.int32), np.stack([ids[pairs[:, 0]], ids[pairs[:, 1]]], 1)


def write_graph(seed: int, out_dir: str) -> dict:
    ids, attr, e = graph_edges(seed)
    rng = _rng(seed, "graph-tables")
    n = len(ids)
    _write(
        pa.table({
            "s_suppkey": pa.array(ids, pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in ids], pa.string()),
            "s_nationkey": pa.array(attr, pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        }),
        os.path.join(out_dir, "supplier.parquet"),
    )
    # Two lineitem rows per edge on a part key of its own, above the
    # quantity cut; filler rows below it.
    m = len(e)
    edge_part = np.arange(1, m + 1, dtype=np.int64)
    f = GRAPH_FILLER_ROWS
    partkey = np.concatenate([edge_part, edge_part,
                              rng.integers(1, m + 1, f).astype(np.int64)])
    suppkey = np.concatenate([e[:, 0], e[:, 1], rng.choice(ids, f)])
    qty = np.concatenate([np.full(2 * m, 50.0), rng.integers(1, 49, f).astype(float)])
    rows = len(partkey)
    order = rng.permutation(rows)
    price = np.round(rng.uniform(900, 105000, rows), 2)
    base_day = np.datetime64("1992-01-01", "us")
    ship = base_day + rng.integers(0, 2500, rows).astype("timedelta64[D]")
    _write(
        pa.table({
            "l_orderkey": pa.array(np.arange(1, rows + 1, dtype=np.int64) // 4 + 1),
            "l_partkey": pa.array(partkey[order]),
            "l_suppkey": pa.array(suppkey[order]),
            "l_linenumber": pa.array((np.arange(rows) % 4 + 1).astype(np.int32)),
            "l_quantity": pa.array(qty[order]),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, rows), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, rows), 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], rows)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], rows)),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    return {"vertices": n, "edges": m, "lineitem_rows": rows}


# --- corpus ----------------------------------------------------------------


def _vocab() -> list[str]:
    # Letters only: digit runs of 7+ would read as PII numbers.
    alpha = "abcdefghijklmnopqrstuvwxyz"
    words = []
    for i in range(VOCAB):
        w, j = "", i
        while True:
            w += alpha[j % 26]
            j //= 26
            if j == 0:
                break
        words.append("w" + w)
    return words


def _pii(rng: np.random.Generator) -> str:
    kind = int(rng.integers(3))
    if kind == 0:
        return f"user{int(rng.integers(10**5))}@mail{int(rng.integers(50))}.example.com"
    if kind == 1:
        return ".".join(str(int(x)) for x in rng.integers(0, 256, 4))
    return str(int(rng.integers(10**8, 10**10)))


def corpus_texts(seed: int) -> list[str]:
    """One text per doc_id 0..CORPUS_DOCS-1."""
    rng = _rng(seed, "corpus")
    words = np.array(_vocab())
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()

    def fresh() -> list[str]:
        if rng.random() < SHORT_DOC_RATE:
            n = int(rng.integers(5, 19))
        else:
            n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1]))
        toks = list(words[rng.choice(VOCAB, n, p=p)])
        stop = rng.random(n) < STOPWORD_RATE
        for i in np.flatnonzero(stop):
            toks[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return toks

    docs: list[list[str]] = []
    for d in range(CORPUS_DOCS):
        r = rng.random()
        src = int(rng.integers(max(d, 1)))
        cum = EXACT_DUP_RATE
        if d > 0 and r < cum:
            toks = list(docs[src])
        elif d > 0 and r < (cum := cum + PII_VARIANT_DUP_RATE):
            toks = list(docs[src])
            toks.insert(int(rng.integers(len(toks) + 1)), _pii(rng))
        elif d > 0 and r < (cum := cum + NEAR_DUP_RATE):
            toks = list(docs[src])
            for i in rng.integers(0, len(toks), max(1, len(toks) // 60)):
                toks[i] = str(words[int(rng.integers(VOCAB))])
        elif d > EVAL_MOD and r < (cum := cum + CONTAMINATION_RATE):
            toks = fresh()
            ev = docs[EVAL_MOD * int(rng.integers(1, d // EVAL_MOD + 1)) - EVAL_MOD]
            take = min(len(ev), 30)
            at = int(rng.integers(0, len(ev) - take + 1))
            toks[len(toks) // 2:len(toks) // 2] = ev[at:at + take]
        else:
            toks = fresh()
        if rng.random() < PII_RATE:
            toks.insert(int(rng.integers(len(toks) + 1)), _pii(rng))
        docs.append(toks)
    return [" ".join(t) for t in docs]


def write_corpus(seed: int, out_dir: str) -> dict:
    texts = corpus_texts(seed)
    rng = _rng(seed, "corpus-meta")
    n = len(texts)
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i}" for i in rng.integers(N_SOURCES, size=n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return {"docs": n}


# --- embeddings ------------------------------------------------------------


def write_embeddings(seed: int, out_dir: str) -> dict:
    rng = _rng(seed, "embeddings")
    centers = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(EMB_CLUSTERS, size=EMB_VECTORS).astype(np.int32)
    vec = centers[label] + EMB_SPREAD * rng.standard_normal(
        (EMB_VECTORS, EMB_DIM)) / np.sqrt(EMB_DIM)
    vec = vec.astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(EMB_VECTORS, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {"vectors": EMB_VECTORS, "dim": EMB_DIM}


WRITERS = {"graph": write_graph, "corpus": write_corpus, "embeddings": write_embeddings}


def generate(family: str, seed: int, out_dir: str) -> dict:
    """Write one table family for ``seed`` into ``out_dir`` → sizes."""
    os.makedirs(out_dir, exist_ok=True)
    return WRITERS[family](seed, out_dir)


def dir_digest(path: str) -> str:
    """sha256 over the sorted (name, bytes) of every parquet file."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            h.update(name.encode() + b"\0")
            with open(os.path.join(path, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
