"""Tracked persistence for operator-internal intermediates.

Several operators persist compact intermediate tables (banded MinHash
signatures, candidate pairs, IVF assignments) because a self-join would
otherwise recompute the expensive subplan once per join side. Those
DataFrames outlive the operator call — the caller materializes the returned
plan later — so the operator itself can never safely ``unpersist()``.

In a process-per-query harness (the driver, pytest) that is fine: executor
storage dies with the session. In a long-lived 100 TB session it pins
executor storage until the JVM GCs the DataFrame. ``pin()`` and ``ckpt()``
therefore track every operator-internal persist and checkpoint, and
``release_pinned()`` frees them all — call it after materializing an
operator's output (bench.py does, between timed queries). Iterative
operators run through ``fixpoint()``, which holds one round at a time, so
what they leave behind does not grow with the round count.
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


def _ckpt_key(df: DataFrame) -> tuple:
    """(SparkContext, rdd id) of a checkpointed frame (a bare LogicalRDD);
    TypeError on any other plan, e.g. a projection of a checkpoint."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError("not a checkpointed frame: analyzed plan is "
                        f"{plan.nodeName()}, expected LogicalRDD")
    return df.sparkSession.sparkContext, int(plan.rdd().id())


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
    _CKPT.append(_ckpt_key(out))
    return out


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
    """Free ONE tracked checkpoint's blocks now, not at release_pinned().
    Raises on a frame that is not a tracked checkpoint. Irrecoverable —
    only for frames never read again (``fixpoint()`` is the caller)."""
    key = _ckpt_key(df)
    if key not in _CKPT:
        raise ValueError(f"rdd {key[1]} is not a tracked checkpoint "
                         "(never ckpt()ed, or already freed)")
    key[0]._jsc.sc().unpersistRDD(key[1], False)
    _CKPT.remove(key)


def fixpoint(init: DataFrame, step, max_iter: int, done=None) -> DataFrame:
    """Run ``state = step(state)`` for up to ``max_iter`` rounds, holding
    one round's storage at a time.

    ``init`` must be a ``ckpt()`` frame; fixpoint owns it from then on.
    ``step`` returns the next round's lazy plan, or None when there is no
    next round. Each round is checkpointed, since the next round (and the
    caller's output, often more than once) reads it; a caller whose output
    reads the final round once applies ``step`` to the result itself,
    keeping that round lazy. ``done(new, old)`` runs while both rounds are
    held and stops the loop by returning True. The superseded round is
    then freed; only the newest is left to ``release_pinned()``.

    Freeing per round matters at scale: at sf3 the k-core loop held ~6
    dead rounds x 67M edge rows (~20 GB deserialized) until
    release_pinned(), enough to force eviction and spill.
    """
    # ckpt/drop_ckpt resolve as module globals, so tracing wrappers see them
    state = init
    for _ in range(max_iter):
        new = step(state)
        if new is None:
            break
        new = ckpt(new)
        stop = done is not None and done(new, state)
        drop_ckpt(state)
        state = new
        if stop:
            break
    return state


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
