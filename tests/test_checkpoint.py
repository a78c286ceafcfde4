"""CheckpointJanitor ownership and attribution under concurrency
(ADVICE r14, medium): checkpoints run from thread pools (HGN init,
simsearch chains); attribution must be exact per thread so releasing
one thread's generation can never unpersist another thread's live
localCheckpoint (which has no lineage and cannot be recomputed), and
no thread's checkpoint may wait for another's. The janitor owns what
it checkpoints: releasing a frame it does not hold fails loudly, and
leaving its block frees everything still held."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from hgn_spark.checkpoint import (
    CheckpointJanitor,
    _attributed,
    attributed_local_checkpoint,
    persistent_rdd_ids,
    release_rdds,
)


def test_attributed_id_is_the_one_persistent_rdd_added(spark):
    """The id read off a checkpointed frame (its LogicalRDD) is the one
    persistent RDD the lazy localCheckpoint registered, and releasing
    it frees exactly that RDD."""
    df = spark.range(100).selectExpr("id", "id % 7 AS k").groupBy("k").count()
    before = persistent_rdd_ids(spark)
    lazy, ids = _attributed(df)
    assert persistent_rdd_ids(spark) - before == set(ids) and len(ids) == 1
    assert lazy.count() == 7
    release_rdds(spark, ids)
    assert persistent_rdd_ids(spark) - before == set()


def test_checkpoint_does_not_wait_for_another_threads_shuffle(spark):
    """Under AQE a lazy localCheckpoint runs its frame's shuffle map
    stages before it returns. While one thread checkpoints a frame
    whose map stage sleeps 3 s, another thread's checkpoint of a small
    frame returns well inside that time: attribution holds no lock
    across that call."""
    import threading
    import time

    from pyspark.sql import functions as F

    sleep_ms = 3000
    slow = (
        spark.range(2, numPartitions=2)
        .groupBy(
            F.expr(
                "concat(cast(id % 2 AS string), coalesce(reflect("
                f"'java.lang.Thread', 'sleep', cast({sleep_ms} AS bigint)), ''))"
            ).alias("k")
        )
        .count()
    )
    with CheckpointJanitor(spark) as jan:
        jan.checkpoint(spark.range(10))  # warm the small frame's path
        started = threading.Event()

        def slow_chain():
            started.set()
            return jan.checkpoint(slow)

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(slow_chain)
            started.wait()
            time.sleep(0.5)
            t0 = time.perf_counter()
            fast = jan.checkpoint(spark.range(10))
            dt = time.perf_counter() - t0
            slow_done_first = fut.done()
            assert fut.result().count() == 2
        assert fast.count() == 10
        assert not slow_done_first and dt < sleep_ms / 2000, dt


def test_concurrent_janitor_attribution_is_disjoint_and_safe(spark):
    """Two threads checkpointing concurrently must attribute DISJOINT
    id sets, and releasing one thread's set must leave the other
    thread's materialized frame fully readable."""
    jan = CheckpointJanitor(spark)

    def chain(tag: int):
        # A frame with a real (if small) job behind it, so the
        # materialization windows overlap across threads.
        df = (
            spark.range(20000)
            .selectExpr("id", f"id % {7 + tag} AS k")
            .groupBy("k")
            .count()
        )
        return jan.checkpoint(df)

    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [pool.submit(chain, i) for i in range(4)]
        results = [f.result() for f in futs]

    # The ids each frame's checkpoint attributed (the janitor's own
    # held map — loops never see them).
    id_sets = [jan._held[id(df)][1] for df in results]
    for i in range(len(id_sets)):
        assert id_sets[i], i
        for j in range(i + 1, len(id_sets)):
            assert id_sets[i].isdisjoint(id_sets[j]), (i, j, id_sets)

    # Release every other frame; the survivors must still be readable
    # (a localCheckpoint has no lineage — a cross-attributed release
    # would have destroyed live blocks).
    jan.release(*results[0::2])
    for k, df in enumerate(results):
        if k % 2 == 1:
            assert df.count() == 7 + k
    jan.release(*results[1::2])


def test_attributed_local_checkpoint_during_janitor_window(spark):
    """A raw attributed_local_checkpoint on another thread must never
    leak its id into a concurrently-attributing janitor window."""
    jan = CheckpointJanitor(spark)

    raw_frames = []

    def raw_chain():
        for _ in range(5):
            raw_frames.append(attributed_local_checkpoint(spark.range(5000)))

    jan_results = []

    def jan_chain():
        for i in range(5):
            jan_results.append(jan.checkpoint(spark.range(1000 + i)))

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(raw_chain)
        f2 = pool.submit(jan_chain)
        f1.result()
        f2.result()

    # Releasing every janitor frame must leave every raw frame readable.
    jan.release(*jan_results)
    for k, df in enumerate(raw_frames):
        assert df.count() == 5000


def test_counted_returns_each_callers_own_count(spark):
    """CheckpointJanitor.counted hands each call its OWN row count and
    observed aggregates — no "last count" state on the janitor, which
    the HGN init pool shares across two threads. Two threads hammer
    one janitor with different-sized frames; every result must match
    the frame it checkpointed."""
    from pyspark.sql import functions as F

    jan = CheckpointJanitor(spark)

    def chain(tag: int):
        out = []
        for i in range(4):
            n_rows = 3000 * (tag + 1) + i
            df = spark.range(n_rows).selectExpr("id", f"id % {5 + tag} AS k")
            out.append((n_rows, tag) + jan.counted(df, mx=F.max("k")))
        return out

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(chain, tag) for tag in range(2)]
        results = [r for f in futs for r in f.result()]

    for n_rows, tag, df, n, seen in results:
        assert n == n_rows
        assert seen == {"mx": 4 + tag}
        # the checkpointed frame is materialized and readable
        assert df.count() == n_rows
        jan.release(df)


def test_counted_observes_the_checkpointed_rows(spark):
    """The observation rides on the checkpointed frame's own counting
    job: its aggregate equals a separate aggregate over the same rows,
    and an empty frame yields n=0 with a null aggregate."""
    from pyspark.sql import functions as F

    jan = CheckpointJanitor(spark)
    df = spark.range(500).selectExpr("id AS src", "id * 7 % 13 AS dst").distinct()
    out, n, seen = jan.counted(df, h=F.expr("bit_xor(xxhash64(src, dst))"))
    want = df.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(src, dst))").alias("h")
    ).collect()[0]
    assert (n, seen["h"]) == (want["n"], want["h"])
    jan.release(out)

    out, n, seen = jan.counted(
        df.filter("src < 0"), h=F.expr("bit_xor(xxhash64(src, dst))")
    )
    assert n == 0 and seen == {"h": None}
    jan.release(out)


def test_release_of_a_frame_not_held_raises(spark):
    """A second release of the same generation, a release after keep,
    and a release of a frame the janitor never checkpointed all fail
    loudly instead of unpersisting whatever the ids now name; None is
    skipped."""
    from hgn_spark.registry import clear_session_caches

    jan = CheckpointJanitor(spark)
    a = jan.checkpoint(spark.range(10))
    b = jan.checkpoint(spark.range(20))
    jan.release(a, None)
    with pytest.raises(ValueError, match="not held"):
        jan.release(a)
    assert jan.keep(b) is b
    with pytest.raises(ValueError, match="not held"):
        jan.release(b)
    with pytest.raises(ValueError, match="not held"):
        jan.release(spark.range(5))
    assert b.count() == 20  # kept: still readable
    clear_session_caches(blocking=True)


def test_scope_exit_frees_held_frames_even_on_error(spark):
    """Leaving the janitor's block frees every frame it still holds,
    on an exception as well as normally; a kept frame survives until
    clear_session_caches."""
    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="mid-loop"):
        with CheckpointJanitor(spark) as jan:
            jan.checkpoint(spark.range(10))
            jan.counted(spark.range(30))
            raise RuntimeError("mid-loop")
    assert persistent_rdd_ids(spark) - before == set()

    with CheckpointJanitor(spark) as jan:
        jan.checkpoint(spark.range(10))
        kept = jan.keep(jan.checkpoint(spark.range(40)))
    assert persistent_rdd_ids(spark) - before
    assert kept.count() == 40
    clear_session_caches(blocking=True)
    assert persistent_rdd_ids(spark) - before == set()


def test_held_map_survives_concurrent_updates(spark):
    """Eight threads (more than the cores) checkpoint and release on
    one janitor with a shortened switch interval: every frame a thread
    still holds is in the held map (a lost update would drop one and
    leak its blocks past the block's exit), and the exit frees all."""
    import sys

    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    before = persistent_rdd_ids(spark)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with CheckpointJanitor(spark) as jan:

            def chain(tag: int):
                frames = [
                    jan.checkpoint(spark.range(10 + tag + 8 * i)) for i in range(3)
                ]
                jan.release(frames[0])
                return frames[1:]

            with ThreadPoolExecutor(max_workers=8) as pool:
                futs = [pool.submit(chain, tag) for tag in range(8)]
                kept = [df for f in futs for df in f.result(timeout=300)]
            assert {id(df) for df in kept} == set(jan._held)
            assert all(df.count() >= 10 for df in kept)
    finally:
        sys.setswitchinterval(old)
    assert not jan._held
    assert persistent_rdd_ids(spark) - before == set()


def test_session_memo_builds_once_under_concurrent_callers(spark):
    """Eight threads (more than the cores) asking one SessionMemo for
    the same session and sf_dir at once get one build, one
    checkpoint and the same frame; a lost check-then-set would build
    and checkpoint twice."""
    import sys

    from hgn_spark import checkpoint as cp
    from hgn_spark.checkpoint import SessionMemo
    from hgn_spark.registry import clear_session_caches

    builds = []

    @SessionMemo
    def frame(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(1000)

    clear_session_caches(blocking=True)
    before = persistent_rdd_ids(spark)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(frame.counted, spark, "k") for _ in range(8)]
            got = [f.result(timeout=300) for f in futs]
        assert builds == ["k"]
        assert len({id(df) for df, _ in got}) == 1
        assert {n for _, n in got} == {1000}
        assert len(persistent_rdd_ids(spark) - before) == 1
    finally:
        sys.setswitchinterval(old)
        cp._MEMOS.remove(frame)
        clear_session_caches(blocking=True)


def test_local_checkpoint_calls_have_an_owner():
    """Every ``.localCheckpoint(`` call in the package goes through
    ``checkpoint.py``, where each block gets an owner (a janitor, the
    loose store or a session memo). The one exception is
    ``sources/sinks.checkpoint_df``: its contract is the S5 raw lineage
    cut, which the caller owns."""
    import ast
    from pathlib import Path

    import hgn_spark

    root = Path(hgn_spark.__file__).parent
    allowed = {("checkpoint.py", None), ("sources/sinks.py", "checkpoint_df")}
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(id(node), fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                and (rel, None) not in allowed
                and (rel, owner.get(id(node))) not in allowed
            ):
                stray.append(f"{rel}:{node.lineno}")
    assert stray == [], f"localCheckpoint outside checkpoint.py: {stray}"
