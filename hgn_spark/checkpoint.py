"""Deterministic release of superseded localCheckpoint generations.

``localCheckpoint(eager=True)`` is the engine's lineage-truncation
primitive for iterative algorithms (the reference used a parquet
write+read per stage, spark_manager/spark_manager.py:215-231). Spark
frees the materialized blocks only when the JVM garbage-collects the
RDD reference and the asynchronous ContextCleaner then processes it —
so a loop that checkpoints every iteration accumulates every dead
generation until some future GC. Two real costs:

- **Scale**: on a 1000-executor cluster the per-iteration state
  (edge sets, BFS frontiers) is executor-memory-scale; carrying
  O(iterations) dead generations instead of one is the difference
  between fitting in memory and spilling/evicting. Bounded-memory
  iteration requires releasing generation N-1 the moment generation N
  is materialized.
- **Measurement**: locally, the deferred cleanup surfaces as GC +
  cleaner pauses billed to whichever query runs next (measured: an
  18.7s run of a 2.8s query right after the HGN loop).

``CheckpointJanitor`` tracks the persistent-RDD ids each checkpoint
creates (via ``SparkContext.getPersistentRDDs`` before/after — the
``DataFrame`` API does not expose the RDD backing a localCheckpoint)
and unpersists superseded generations eagerly. Loops keep exactly the
generations their final result still references.
"""

from __future__ import annotations

import threading
from collections.abc import Iterable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession

# Serializes checkpoint ATTRIBUTION windows (the getPersistentRDDs
# before/after diff) across threads (ADVICE r14, medium): concurrent
# chains — the HGN init pair, simsearch's IVF/LSH pool — would
# otherwise capture each other's freshly-persisted RDD ids, and a later
# release of one set could unpersist another thread's live
# localCheckpoint (which has no lineage and cannot be recomputed). Only
# the diff window is locked; the eager materialization job runs OUTSIDE
# the lock, so concurrent chains still overlap their cluster work
# (guide §2.6). This relies on Dataset.localCheckpoint registering the
# RDD with the context's persistent map synchronously even for
# eager=False (RDD.localCheckpoint → persist() at call time; the blocks
# materialize on the first job), which tests pin.
_ATTRIBUTION_LOCK = threading.Lock()


def _persistent_rdd_jmap(spark: SparkSession):
    """java.util.Map[Integer, RDD] of currently persisted RDDs."""
    sc = spark.sparkContext
    return sc._jvm.scala.collection.JavaConverters.mapAsJavaMap(
        sc._jsc.sc().getPersistentRDDs()
    )


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    return {int(k) for k in _persistent_rdd_jmap(spark).keySet().toArray()}


def release_rdds(
    spark: SparkSession, ids: Iterable[int], blocking: bool = False
) -> None:
    """Unpersist the given RDD ids now (no-op for already-cleaned ids).

    Only call with ids whose downstream results are already materialized
    into a newer checkpoint: a localCheckpointed RDD has no lineage to
    recompute from, so a released generation must never be re-executed.
    """
    jmap = _persistent_rdd_jmap(spark)
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(blocking)


def _materialize(out: DataFrame) -> int:
    """Run the one job that fills a lazy localCheckpoint's blocks and
    return its row count. Counts the checkpointed RDD through the
    frame's internal row RDD: one scan job, where ``DataFrame.count()``
    would plan an aggregate and run two (a partial-count map stage
    plus the final one) on every checkpoint."""
    return int(out._jdf.queryExecution().toRdd().count())


def attributed_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Raw (untracked) localCheckpoint that cannot pollute a concurrent
    janitor attribution window: the persistent-RDD registration happens
    under the module attribution lock, the materialization (if eager)
    outside it. Use this instead of DataFrame.localCheckpoint in any
    code that can run on a pool thread next to a CheckpointJanitor
    (e.g. betweenness layers inside the HGN init pool)."""
    with _ATTRIBUTION_LOCK:
        out = df.localCheckpoint(eager=False)
    if eager:
        _materialize(out)
    return out


def tracked_local_checkpoint(df: DataFrame) -> tuple[DataFrame, frozenset[int]]:
    """One-off tracked checkpoint: returns the checkpointed frame plus
    the persistent-RDD ids backing it, so whoever caches the handle can
    release the blocks when the cache is dropped (see
    ``registry.clear_session_caches``)."""
    return CheckpointJanitor(df.sparkSession).checkpoint(df)


# Blocks behind RESULT/intermediate frames that no module-level cache
# owns (a query materializes a reused sub-frame, hands the result to
# the caller, and has nowhere to park the ids). Registered with the
# session-cache registry so clear_session_caches releases them —
# without this, every bench pass leaves another orphan generation that
# only async GC reclaims (the measurement cost in the module
# docstring). Keyed by applicationId per the registry's block-id-store
# contract (ADVICE r7): a stopped-and-recreated SparkContext restarts
# RDD ids at 0, so ids parked under an old context must be dropped,
# never released against the new one where they alias live blocks.
_LOOSE_BLOCK_IDS: dict[str, set[int]] = {}


def _park(spark: SparkSession | None, ids: Iterable[int]) -> None:
    if spark is None:
        # No session HANDLE — which does not prove the owning context
        # stopped (getActiveSession is thread-local; a non-owner thread
        # sees None while the context lives on). Without an
        # applicationId the ids can never be safely matched to a future
        # release, so they are dropped untracked; callers avoid this
        # path by passing their in-scope session (see
        # park_loose_blocks).
        return
    app = spark.sparkContext.applicationId
    # setdefault: clear_session_caches clears the whole dict, so the
    # key must be recreatable after every clear.
    _LOOSE_BLOCK_IDS.setdefault(app, set()).update(ids)


def loose_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Checkpoint a frame whose blocks have no owning cache; the ids
    are parked in the registered loose store and released by
    ``registry.clear_session_caches`` (benchmarks call it between
    passes; long-lived sessions call it on corpus switch).
    ``eager=False`` defers materialization to the first consumer (see
    CheckpointJanitor.checkpoint) — subtree sharing without a driver
    barrier."""
    out, ids = CheckpointJanitor(df.sparkSession).checkpoint(df, eager=eager)
    _park(df.sparkSession, ids)
    return out


def park_loose_blocks(ids: Iterable[int], spark: SparkSession | None = None) -> None:
    """Hand already-tracked checkpoint ids to the loose store (e.g. a
    loop's FINAL generation, which outlives the loop as the caller's
    result and has no owning cache).

    Pass the owning session explicitly: the active-session fallback is
    thread-local, so a call from a non-owner thread (e.g. a results
    consumer draining a queue) would see None and silently skip parking
    even though the owning context is alive — leaking the blocks until
    context shutdown (ADVICE r8). Every loop operator in hgn_spark
    passes its in-scope session; the fallback exists only for external
    callers that genuinely run on the session's own thread."""
    _park(spark or SparkSession.getActiveSession(), ids)


def _register_loose_store() -> None:
    # Deferred import: registry imports nothing from here at module
    # scope, but keep the direction acyclic at import time anyway.
    from hgn_spark.registry import register_cache

    register_cache("loose_checkpoints", block_ids=_LOOSE_BLOCK_IDS)


_register_loose_store()


class CheckpointJanitor:
    """Tracked ``localCheckpoint`` for iterative loops.

    ``checkpoint(df)`` returns ``(checkpointed_df, ids)`` where ``ids``
    are the persistent-RDD ids the checkpoint created; ``release(ids)``
    frees a superseded generation. Callers release generation N-1 right
    after generation N's eager checkpoint returns (N is materialized by
    then, so N-1 can never be read again).
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark

    def checkpoint(
        self,
        df: DataFrame,
        eager: bool = True,
        *,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
        _observe: dict[str, Column] | None = None,
        _seen: dict | None = None,
    ) -> tuple[DataFrame, frozenset[int]]:
        # Attribution under the module lock, materialization outside it
        # (see _ATTRIBUTION_LOCK): the lazy localCheckpoint registers
        # its RDD with the persistent map synchronously, so the id diff
        # is exact per thread, while the expensive job — the count that
        # materializes every partition into blocks — still overlaps
        # with other threads' chains. ``eager=False`` skips the count
        # entirely: the FIRST consumer materializes the blocks (block
        # locks dedupe concurrent computation), which shares a subtree
        # across consumers without a serial driver barrier — the right
        # trade for small frames consumed by concurrent union arms.
        # CAUTION for loops: a lazy generation must be materialized
        # before its inputs are released. ``storage_level`` goes to
        # localCheckpoint; the default is Spark's own (deserialized).
        #
        # ``_observe``/``_seen`` are `counted`'s per-call channel (the
        # aggregates to observe in; the row count and observed values
        # out), so every materialization stays one ``checkpoint`` call
        # and no result state lives on the janitor — concurrent callers
        # share one janitor (the HGN init pool).
        with _ATTRIBUTION_LOCK:
            before = persistent_rdd_ids(self._spark)
            out = df.localCheckpoint(eager=False, storageLevel=storage_level)
            ids = frozenset(persistent_rdd_ids(self._spark) - before)
        if eager:
            if _observe:
                # The observation sits on the CHECKPOINTED frame, the
                # one this job counts. Observed on ``df`` instead (the
                # plan that feeds localCheckpoint) it never fires: the
                # checkpoint job computes the RDD, not that query, and
                # every value reads back as 0.
                obs = Observation()
                n = out.observe(
                    obs, *[c.alias(k) for k, c in _observe.items()]
                ).count()
                if _seen is not None:
                    _seen.update(obs.get)
            else:
                n = _materialize(out)
            if _seen is not None:
                _seen["n"] = n
        return out, ids

    def counted(
        self, df: DataFrame, **observe: Column
    ) -> tuple[DataFrame, frozenset[int], int, dict[str, object]]:
        """Eager ``checkpoint`` that also hands back what its
        materializing job saw: ``(df, ids, n, observed)`` where ``n``
        is the row count the eager ``count()`` computes anyway and
        ``observed`` maps each keyword to its aggregate over the same
        rows (``DataFrame.observe`` on that one job — no second
        action). Loops read their control numbers from here instead of
        paying a separate ``count()``/``collect()`` barrier."""
        seen: dict = {}
        out, ids = self.checkpoint(df, _observe=observe, _seen=seen)
        n = seen.pop("n")
        return out, ids, n, seen

    def release(self, ids: Iterable[int]) -> None:
        release_rdds(self._spark, ids)
