"""Output checks: canonical order-insensitive value hashes, the DuckDB
oracles the registry ships for each registered row, and the cached
reference answers built from them and from the HGN replay.

The canonical form is the one the registered oracles are checked
with (order-insensitive): columns sorted by name, floats
rounded to 6 decimals (with -0.0 folded into 0.0), nulls spelled out,
rows sorted; the hash is sha256 over that row list.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "nan" if f != f else f"{round(f, 6) + 0.0:.6f}"
    return str(v)


def canon_hash(columns: list[str], rows: list[tuple]) -> dict:
    """→ {"rows": n, "hash": sha256} of the canonical row-wise form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def spark_hash(df) -> dict:
    """Collect a Spark DataFrame and hash it canonically."""
    return canon_hash(df.columns, [tuple(r) for r in df.collect()])


def duckdb_hash(sql: str, data_dir: str, tmp_dir: str) -> dict:
    """Run one oracle over the parquet tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute("SET threads=2")
        con.execute("SET enable_progress_bar=false")
        con.execute("SET memory_limit='2GB'")
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(data_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS "
                            f"SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out = canon_hash(cols, rows)
        if len(rows) <= 100:
            out["values"] = [list(r) for r in rows]
        return out
    finally:
        con.close()


def partition_hash(pairs) -> dict:
    """Canonical hash of an (id, component) partition."""
    return canon_hash(["id", "component"], list(pairs))


def core_numbers(edges) -> list[tuple[int, int]]:
    """Exact k-core numbers by peeling → (id, core) for every vertex with
    an edge. The reference for graph_kcore: the registered oracle
    unrolls at most 16 peel rounds per level, and the generated graph
    can need more (seed 3 needs 21 at level 6), where it under-counts."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    core: dict[int, int] = {}
    alive, k = set(adj), 0
    while alive:
        k += 1
        while peel := [v for v in alive if len(adj[v] & alive) < k]:
            for v in peel:
                core[v] = k - 1
            alive.difference_update(peel)
    return sorted(core.items())


def reference(workload: str, seed: int, data_dir: str, digest: str,
              cache_dir: str, tmp_dir: str) -> dict:
    """Reference answer per checked part of ``workload``, cached per
    (workload, seed, generator version, input digest, reference
    definition). Runs in its own process, so it takes names, not
    objects."""
    import json
    import time

    import __spark_entry__

    from perfbench import gen, hgn_replay
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload]
    oracles = __spark_entry__.oracle_sql()
    checked = [p for p in wl.parts + wl.extra_checks if p.reference]
    key_src = [str(gen.GEN_VERSION), digest]
    for p in checked:
        if p.reference in ("replay", "peel"):
            src = hgn_replay.__file__ if p.reference == "replay" else __file__
            with open(src, "rb") as fh:
                key_src.append(hashlib.sha256(fh.read()).hexdigest())
        else:
            key_src.append(oracles[p.reference])
    key = hashlib.sha256("\0".join(key_src).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{workload}-s{seed}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    out = {}
    for p in checked:
        t0 = time.perf_counter()
        if p.reference == "replay":
            edges, attr = hgn_replay.derived_graph(data_dir)
            r = hgn_replay.replay(edges, attr, hgn_replay.CASCADE)
            out[p.name] = {
                "hashes": [partition_hash(x)["hash"] for x in r["partitions"]],
                "rows": [len(x) for x in r["partitions"]],
                "communities": [len({c for _, c in x}) for x in r["partitions"]],
                "ties": [list(t) for t in r["ties"]],
                "deleted_per_step": r["deleted_per_step"],
                "scored_per_step": r["scored_per_step"],
            }
        elif p.reference == "peel":
            edges, _ = hgn_replay.derived_graph(data_dir)
            out[p.name] = {"hashes": [canon_hash(["id", "core"], core_numbers(edges))["hash"]]}
        else:
            res = duckdb_hash(oracles[p.reference], data_dir, tmp_dir)
            out[p.name] = {"hashes": [res["hash"]], "rows": [res["rows"]]}
            if "values" in res:
                out[p.name]["values"] = res["values"]
        out[p.name]["seconds"] = round(time.perf_counter() - t0, 3)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


if __name__ == "__main__":
    # python3 -m perfbench.check WORKLOAD SEED DATA_DIR DIGEST CACHE_DIR TMP_DIR OUT
    # (from the repository root): write reference(...) to OUT as JSON.
    import json
    import sys

    a = sys.argv[1:]
    answer = reference(a[0], int(a[1]), *a[2:6])
    with open(a[6], "w") as fh:
        json.dump(answer, fh)
