"""Query registry: the single source of truth for the driver contract.

Every implemented operator registers a named query (a callable
``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, a DuckDB
oracle SQL string computing the same result. ``__spark_entry__.py``
exposes this registry to the driver.

Determinism rules (both sides must follow them so the driver's
order-insensitive value-hash matches):

- Alias every computed column identically in Spark and SQL.
- Round every floating-point aggregate to a fixed number of decimals —
  Spark and DuckDB sum doubles in different orders, so raw sums differ
  in the last ulps.
- Arrays are compared as joined strings (sorted first) — engines
  disagree on array hashing.
- Any top-k / limit query needs a total tie-break order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


# Among rows-only (no-oracle) queries, the strongest evidence orders
# first in case window slots ever open up. (Historical: the flagship
# HGN loop, PageRank, LPA, the streaming family, and k-core all sat
# here until their oracles landed; the sole remaining rows-only entry
# is the sketch report, whose HLL++/approx-percentile internals have
# no DuckDB twin — error-bound tests pin it instead.)
_ROWS_ONLY_PRIORITY = ["sketch_accuracy_report"]


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries, then return the registry
    ordered strongest-evidence-first.

    The driver verifies a bounded prefix of the returned mapping (50
    queries), so ordering is part of the contract: every oracle-backed
    query registers ahead of every rows-only query, and rows-only
    queries order per _ROWS_ONLY_PRIORITY (then import order).
    """
    # Imports are side-effecting (decorators fill REGISTRY).
    from hgn_spark.operators import relational  # noqa: F401
    from hgn_spark.operators import dedup  # noqa: F401
    from hgn_spark.operators import similarity  # noqa: F401
    from hgn_spark.operators import text  # noqa: F401
    from hgn_spark.operators import sampling  # noqa: F401
    from hgn_spark.graph import queries as graph_queries  # noqa: F401
    from hgn_spark.multimodal import ops as multimodal_ops  # noqa: F401
    from hgn_spark.streaming import queries as streaming_queries  # noqa: F401
    from hgn_spark import pipeline  # noqa: F401

    ordered = [s for s in REGISTRY.values() if s.oracle is not None]
    rows_only = [s for s in REGISTRY.values() if s.oracle is None]
    rank = {n: i for i, n in enumerate(_ROWS_ONLY_PRIORITY)}
    ordered += sorted(
        rows_only, key=lambda s: rank.get(s.name, len(_ROWS_ONLY_PRIORITY))
    )
    return {s.name: s for s in ordered}


def clear_session_caches(blocking: bool = False) -> None:
    """Drop every session memo (shingle sets, verified near-dup pairs,
    the derived graph edge list, the embeddings) AND release the
    checkpoint blocks of the session's loose store
    (``checkpoint.clear_session``).
    Benchmarks call this between suite passes so a repeated pass
    re-measures the real build cost instead of reading checkpoints
    back; the explicit block release keeps the dropped state from
    surfacing later as async-cleanup GC pauses inside unrelated
    queries.

    ``blocking=True`` waits for each block removal instead of queuing
    it: a mass release of a whole suite's checkpoints (the bench warm
    pass parks hundreds of block sets) otherwise drains ASYNC while
    the next timed query runs, billing the cleanup to it — measured
    as multi-x inflation of the first post-clear pass (r9). Timed
    protocols should drain synchronously between passes; interactive
    callers keep the cheap async default."""
    from pyspark.sql import SparkSession

    from hgn_spark.checkpoint import clear_session

    spark = SparkSession.getActiveSession()
    clear_session(spark, blocking=blocking)

    # Unload every loaded streaming StateStoreProvider (r10): the JVM
    # keeps providers — and their HEAP-resident HDFS-backed state maps
    # and maintenance threads — alive after availableNow queries
    # terminate, so a session that re-runs streaming rows accumulates
    # them without bound and the growing maintenance/GC load bills
    # into later runs (measured: stream-stream join repeat executions
    # spike to 25-31 s once several invocations' providers pile up,
    # vs flat 8-9 s with the unload; the reload on next use costs
    # ~1-2 s). Providers reload lazily from their checkpoints, so this
    # is safe whenever no streaming query is mid-flight — and instead
    # of trusting that documented convention, the unload is now gated
    # on spark.streams.active being empty (ADVICE r10): stopping the
    # coordinator under a live query would unload providers it is
    # actively writing.
    if spark is not None:
        try:
            if spark.streams.active:
                import warnings

                warnings.warn(
                    "clear_session_caches: skipping StateStore.stop() — "
                    f"{len(spark.streams.active)} streaming query(ies) "
                    "still active",
                    stacklevel=2,
                )
            else:
                spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:  # noqa: BLE001 — best-effort; internal JVM surface
            pass
