"""Tracked persistence for operator-internal intermediates.

Several operators persist compact intermediate tables (banded MinHash
signatures, candidate pairs, IVF assignments) because a self-join would
otherwise recompute the expensive subplan once per join side. Those
DataFrames outlive the operator call — the caller materializes the returned
plan later — so the operator itself can never safely ``unpersist()``.

In a process-per-query harness (the driver, pytest) that is fine: executor
storage dies with the session. In a long-lived 100 TB session it pins
executor storage until the JVM GCs the DataFrame. ``pin()`` therefore
tracks every operator-internal persist in a module registry and
``release_pinned()`` frees them all — call it after materializing an
operator's output (bench.py does, between timed queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []
# (SparkContext, rdd id) — NOT the DataFrame (r13, advisor): a strong
# DataFrame reference would keep the checkpoint RDD reachable from
# Python forever, so sessions that never call release_pinned() (the
# external driver evaluating 50 gates) would accumulate every
# checkpoint block for the whole run. Holding only the id restores
# ContextCleaner semantics (blocks free when the JVM plan is GC'd
# after the caller drops the frame) while release_pinned() can still
# drop them eagerly by id.
_CKPT: list[tuple] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and track it for later release."""
    df = df.persist()
    _PINNED.append(df)
    return df


def ckpt(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` with tracked storage (r12).

    Iterative/multi-consumer operators cut lineage with eager local
    checkpoints (pin() cuts re-execution but every consumer subplan still
    re-embeds the pinned subtree's full logical plan — Catalyst planning
    cost compounds per round). A raw ``localCheckpoint`` leaves its blocks
    to the ContextCleaner, i.e. GC-lag-bounded executor storage; tracking
    the checkpointed frame here keeps ``release_pinned()``'s contract: one
    call frees everything an operator left behind.

    Unlike a released pin (which silently recomputes), a released
    checkpoint CANNOT be re-executed — lineage was truncated — so callers
    must only release after fully materializing an operator's output and
    must not re-run a previously returned plan afterwards (bench/sweep/
    tools all rebuild plans per run). Usage: ``df.transform(ckpt)``.
    """
    out = df.localCheckpoint()
    _CKPT.append((out.sparkSession.sparkContext, _ckpt_rdd_id(out)))
    return out


def _ckpt_rdd_id(df: DataFrame) -> int:
    # a checkpointed frame's analyzed plan is a LogicalRDD leaf
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError("not a checkpointed frame: analyzed plan root is "
                         f"{plan.nodeName()}, not LogicalRDD")
    return int(plan.rdd().id())


def hot_ckpt(df: DataFrame) -> DataFrame:
    """Persist THEN eagerly localCheckpoint (r13).

    The two mechanisms compose: the checkpoint truncates the lineage
    every consumer re-embeds (the r12 planning-cost win), while the
    persist makes the subtree recognizable to the CacheManager when an
    IDENTICAL plan is built again in the same session — repeated
    invocations (bench best-of-N, a long-lived session re-running an
    operator) recompute the expensive subtree from cache instead of
    from scratch, which a bare localCheckpoint never does (fresh RDD
    per call). Costs the table's storage twice (cache + checkpoint
    blocks) until release_pinned(); use for EXPENSIVE, compact,
    flat intermediates (featurizations, trained models, edge builds),
    not per-round loop state.
    """
    return ckpt(pin(df))


def drop_ckpt(df: DataFrame) -> None:
    """Free ONE checkpointed frame's blocks immediately (r13, guide §5).

    Iterative operators checkpoint per round; without this, every
    round's blocks stay in MEMORY_AND_DISK until release_pinned() —
    at sf3 the k-core loop held ~6 rounds x 67M edge rows (~20 GB of
    deserialized storage), pushing eviction/spill and a superlinear
    slope. A round's state is dead the moment the NEXT round is
    materialized, so loops drop the previous frame right after the new
    checkpoint's action completes. Dropping truncated-lineage data is
    irrecoverable — only call on frames that will never be read again.

    Raises ValueError for a frame :func:`ckpt` never returned (a
    projection OF a checkpointed frame, or one already dropped or
    released): freeing nothing there silently let loops hold every
    round's blocks until release_pinned().
    """
    sc = df.sparkSession.sparkContext
    entry = (sc, _ckpt_rdd_id(df))
    if entry not in _CKPT:
        raise ValueError("drop_ckpt: frame is not a tracked checkpoint "
                         "(pass the frame ckpt() returned)")
    _CKPT.remove(entry)
    sc._jsc.sc().unpersistRDD(entry[1], False)


def release_pinned() -> int:
    """Free every tracked intermediate (pins unpersisted, checkpoint
    blocks dropped); returns how many were freed.

    Safe to call between operator invocations — operators re-pin /
    re-checkpoint on their next call. Previously RETURNED plans that embed
    checkpointed leaves must not be re-executed after release (their
    lineage is truncated; the data is gone).
    """
    n = len(_PINNED) + len(_CKPT)
    while _PINNED:
        try:
            _PINNED.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    while _CKPT:
        try:
            sc, rdd_id = _CKPT.pop()
            # the checkpointed data lives on the LogicalRDD's RDD, tracked
            # by id (see _CKPT note); unpersistRDD is what ContextCleaner
            # itself calls and is a no-op for already-cleaned ids
            sc._jsc.sc().unpersistRDD(rdd_id, False)
        except Exception:
            pass  # session already stopped — nothing to free
    return n
