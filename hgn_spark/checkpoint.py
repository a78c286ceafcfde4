"""Checkpoint generations with an owner.

``localCheckpoint`` is the engine's lineage-truncation primitive for
iterative algorithms (the reference used a parquet write+read per
stage, spark_manager/spark_manager.py:215-231). Spark frees its blocks
only when the JVM garbage-collects the RDD reference and the
asynchronous ContextCleaner processes it, so a loop that checkpoints
every iteration would carry every dead generation until some later GC.
Two real costs:

- **Scale**: on a 1000-executor cluster the per-iteration state
  (edge sets, BFS frontiers) is executor-memory-scale; carrying
  O(iterations) dead generations instead of one is the difference
  between fitting in memory and spilling/evicting. Bounded-memory
  iteration requires releasing generation N-1 the moment generation N
  is materialized.
- **Measurement**: locally, the deferred cleanup surfaces as GC +
  cleaner pauses billed to whichever query runs next (measured: an
  18.7s run of a 2.8s query right after the HGN loop).

``CheckpointJanitor`` owns the generations it checkpoints. Used as a
context manager, it hands out checkpointed frames, frees the ones a
loop names as superseded (``release``), hands the result generation
that outlives the loop to the loose store (``keep``), and
frees everything else it still holds when the block exits, normally or
by an exception. A loop never sees an RDD id. Every generation is
materialized before ``checkpoint`` returns, so nothing a later round
reads can depend on a released generation's blocks. The persistent-RDD
ids behind a frame are found by diffing ``SparkContext.getPersistentRDDs``
around the call (the ``DataFrame`` API does not expose the RDD backing
a localCheckpoint).

Blocks that live for the session (kept results, loose checkpoints and
``SessionMemo``'s one materialization per ``(session, sf_dir)``) all
sit in one loose store, which ``clear_session`` releases: what lives
for a session and when its blocks are freed is decided here only.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Iterable

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


def _attributed(
    df: DataFrame, storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> tuple[DataFrame, frozenset[int]]:
    """Lazy localCheckpoint of ``df`` and the persistent-RDD ids it
    created, diffed under the module attribution lock (the lazy call
    registers its RDD synchronously, so the diff is exact per thread).
    The one attribution primitive behind every tracked checkpoint."""
    spark = df.sparkSession
    with _ATTRIBUTION_LOCK:
        before = persistent_rdd_ids(spark)
        out = df.localCheckpoint(eager=False, storageLevel=storage_level)
        return out, frozenset(persistent_rdd_ids(spark) - before)


def attributed_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Raw (untracked) localCheckpoint that cannot pollute a concurrent
    janitor attribution window: the persistent-RDD registration happens
    under the module attribution lock, the materialization (if eager)
    outside it. Nothing releases its blocks but async GC, so package
    code checkpoints through a janitor, ``loose_local_checkpoint`` or a
    ``SessionMemo`` instead; this stays only as a layer target that
    ``perfbench/trace.py`` names."""
    with _ATTRIBUTION_LOCK:
        out = df.localCheckpoint(eager=False)
    if eager:
        _materialize(out)
    return out


# Blocks that outlive the call that checkpointed them: result
# generations a janitor ``keep``s, ``loose_local_checkpoint`` frames
# and every ``SessionMemo`` materialization. ``clear_session`` releases
# them (benchmarks call it between passes) — without this, every pass
# leaves another orphan generation that only async GC reclaims (the
# measurement cost in the module docstring). Keyed by applicationId: a
# stopped-and-recreated SparkContext restarts RDD ids at 0, so ids
# parked under an old context must be dropped, never released against
# the new one where they alias live blocks (ADVICE r7).
_LOOSE_BLOCK_IDS: dict[str, set[int]] = {}


def _park(spark: SparkSession, ids: Iterable[int]) -> None:
    app = spark.sparkContext.applicationId
    # setdefault: clear_session clears the whole dict, so the key must
    # be recreatable after every clear.
    _LOOSE_BLOCK_IDS.setdefault(app, set()).update(ids)


def loose_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Checkpoint a frame whose blocks have no owning cache; the ids
    are parked in the loose store and released by
    ``registry.clear_session_caches`` (benchmarks call it between
    passes; long-lived sessions call it on corpus switch).

    ``eager=False`` leaves materialization to the first consumer (block
    locks dedupe concurrent computation), which shares a subtree across
    consumers without a serial driver barrier — the right trade for
    small frames read by concurrent union arms. It is the only lazy
    tracked checkpoint: nothing releases a loose frame before
    ``clear_session_caches``, so no release can overtake its
    materialization."""
    if eager:
        with CheckpointJanitor(df.sparkSession) as jan:
            return jan.keep(jan.checkpoint(df))
    out, ids = _attributed(df)
    _park(df.sparkSession, ids)
    return out


class CheckpointJanitor:
    """Owner of a loop's checkpoint generations; use it as a context
    manager.

    ``checkpoint(df)`` returns the materialized checkpoint of ``df``
    and holds its blocks; ``release(*frames)`` frees superseded
    generations (callers release generation N-1 right after generation
    N's checkpoint returns); ``keep(frame)`` hands a result generation
    that outlives the block to the loose store. Leaving the block frees
    whatever is still held. One janitor may serve several threads (the
    HGN init pool): the map of held frames is updated under a lock and
    every call returns its own results.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._lock = threading.Lock()
        # id(frame) -> (frame, its persistent-RDD ids); the frame is
        # stored so its id cannot be reused while it is held.
        self._held: dict[int, tuple[DataFrame, frozenset[int]]] = {}

    def __enter__(self) -> CheckpointJanitor:
        return self

    def __exit__(self, *exc: object) -> None:
        with self._lock:
            held, self._held = self._held, {}
        for _, ids in held.values():
            release_rdds(self._spark, ids)

    def checkpoint(
        self,
        df: DataFrame,
        *,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
        _observe: dict[str, Column] | None = None,
        _seen: dict | None = None,
    ) -> DataFrame:
        # Attribution under the module lock, materialization outside it
        # (see _ATTRIBUTION_LOCK), so the expensive job — the count that
        # materializes every partition into blocks — still overlaps
        # with other threads' chains. The frame is held before that
        # job runs: if it fails, leaving the block frees the blocks.
        # ``storage_level`` goes to localCheckpoint; the default is
        # Spark's own (deserialized).
        #
        # ``_observe``/``_seen`` are `counted`'s per-call channel (the
        # aggregates to observe in; the row count and observed values
        # out), so every materialization stays one ``checkpoint`` call
        # and no result state lives on the janitor.
        out, ids = _attributed(df, storage_level)
        with self._lock:
            self._held[id(out)] = (out, ids)
        if _observe:
            # The observation sits on the CHECKPOINTED frame, the
            # one this job counts. Observed on ``df`` instead (the
            # plan that feeds localCheckpoint) it never fires: the
            # checkpoint job computes the RDD, not that query, and
            # every value reads back as 0.
            obs = Observation()
            n = out.observe(obs, *[c.alias(k) for k, c in _observe.items()]).count()
            if _seen is not None:
                _seen.update(obs.get)
        else:
            n = _materialize(out)
        if _seen is not None:
            _seen["n"] = n
        return out

    def counted(
        self, df: DataFrame, **observe: Column
    ) -> tuple[DataFrame, int, dict[str, object]]:
        """``checkpoint`` that also hands back what its materializing
        job saw: ``(df, n, observed)`` where ``n`` is the row count the
        materialization computes anyway and ``observed`` maps each
        keyword to its aggregate over the same rows
        (``DataFrame.observe`` on that one job — no second action).
        Loops read their control numbers from here instead of paying a
        separate ``count()``/``collect()`` barrier."""
        seen: dict = {}
        out = self.checkpoint(df, _observe=observe, _seen=seen)
        n = seen.pop("n")
        return out, n, seen

    def _detach(self, frame: DataFrame) -> frozenset[int]:
        """Stop holding ``frame`` and return its ids; raises if this
        janitor does not hold it (released or kept already, or
        checkpointed elsewhere)."""
        with self._lock:
            entry = self._held.pop(id(frame), None)
        if entry is None:
            raise ValueError(
                "CheckpointJanitor: the frame is not held by this janitor "
                "(already released or kept, or checkpointed elsewhere)"
            )
        return entry[1]

    def release(self, *frames: DataFrame | None) -> None:
        """Free the blocks of the given held frames now; ``None`` is
        skipped. Only release a generation whose readers are all
        materialized: a localCheckpoint has no lineage to recompute
        from."""
        for frame in frames:
            if frame is not None:
                release_rdds(self._spark, self._detach(frame))

    def keep(self, frame: DataFrame) -> DataFrame:
        """Hand ``frame`` — a result generation the caller's plan still
        reads after the block exits — to the loose store
        (released by ``registry.clear_session_caches``) and return it."""
        _park(self._spark, self._detach(frame))
        return frame


class SessionMemo:
    """One materialization per ``(applicationId, sf_dir)`` of a
    ``build(spark, sf_dir) -> DataFrame``; decorate the builder and
    call it under its own name.

    The first call in a session runs ``build`` and one counted eager
    checkpoint of its frame (``CheckpointJanitor.counted`` + ``keep``,
    so the blocks sit in the loose store); later calls return that
    frame. ``counted`` also returns the row count the checkpoint job
    computed, so a caller that needs the size pays no second job.
    Builds run under a lock per memo: concurrent callers (simsearch's
    chains) wait for the one build instead of racing a second
    checkpoint, and a builder may call another memo (the jaccard pairs
    build reads the shingle sets) without deadlock. ``clear_session``
    empties every memo."""

    def __init__(self, build: Callable[[SparkSession, str], DataFrame]) -> None:
        functools.update_wrapper(self, build)
        self._build = build
        self._lock = threading.Lock()
        self._frames: dict[tuple[str, str], tuple[DataFrame, int]] = {}
        _MEMOS.append(self)

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return self.counted(spark, sf_dir)[0]

    def counted(self, spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
        key = (spark.sparkContext.applicationId, sf_dir)
        hit = self._frames.get(key)
        if hit is None:
            with self._lock:
                hit = self._frames.get(key)
                if hit is None:
                    with CheckpointJanitor(spark) as jan:
                        out, n, _ = jan.counted(self._build(spark, sf_dir))
                        hit = self._frames[key] = (jan.keep(out), n)
        return hit


_MEMOS: list[SessionMemo] = []


def clear_session(spark: SparkSession | None, blocking: bool = False) -> None:
    """Drop every memo and the loose store: ids parked under ``spark``'s
    application are released, ids parked under any other application
    are dropped unreleased (they alias live blocks of the current
    context; see the loose store). With no session only the drop
    happens."""
    for memo in _MEMOS:
        memo._frames.clear()
    if spark is not None:
        ids = _LOOSE_BLOCK_IDS.get(spark.sparkContext.applicationId, ())
        release_rdds(spark, ids, blocking=blocking)
    _LOOSE_BLOCK_IDS.clear()
