"""Session-scoped registry for operator-internal persisted DataFrames.

Several operators persist an intermediate that their (lazy) result plan
consumes more than once — e.g. the token arrays in
``operators/setjoin.py::setsim_join`` are read three times (prefix
explode, verify-a, verify-b). The operator cannot unpersist before
returning: the caller has not run the consuming action yet. But leaving
the cache live forever is an unbounded leak across a long session that
builds hundreds of query plans (bench.py's default run times 293).

The discipline:

* operators call :func:`persist_tracked` instead of ``df.persist()`` for
  any cache whose lifetime they cannot scope themselves;
* harness loops (bench.py, tools/oracle_check.py, test fixtures) call
  :func:`release_caches` after each query's consuming action completes.

``MEMORY_AND_DISK`` means an unreleased cache degrades (evicts/spills)
rather than OOMs, so forgetting to release is safe-but-wasteful — the
registry turns "wasteful forever" into "released per query".

Iterative kernels (connected components, BFS, k-core peeling, HITS, the
greedy coreset and coverage selectors) run through one loop,
:func:`fixpoint`. It checkpoints every round's state once
(:func:`iterative_checkpoint`, so lineage never grows past one round),
releases the previous generation as soon as the next is materialized and
checked (:func:`release_local_checkpoint`, so at most two generations
are live), applies one budget rule and raises one error,
:class:`NotConvergedError`, when a convergence loop runs out of rounds.
Kernels supply only the round step and, for a fixpoint, the test that a
round changed nothing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: The one storage level for everything this module persists or
#: checkpoints. In PySpark's naming ``MEMORY_AND_DISK`` is the serialized
#: level.
LEVEL = StorageLevel.MEMORY_AND_DISK

_LIVE: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` at :data:`LEVEL` and register it for later
    :func:`release_caches`."""
    df.persist(LEVEL)
    _LIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were released.

    ``blocking=False``: eviction proceeds asynchronously so the harness
    loop never stalls on executor cleanup.
    """
    n = len(_LIVE)
    for df in _LIVE:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to release
    _LIVE.clear()
    return n


def live_count() -> int:
    """Number of currently tracked (not yet released) caches."""
    return len(_LIVE)


#: Round checkpoints taken by :func:`iterative_checkpoint` in this process;
#: read it before and after a run to count that run's rounds (exact while
#: one thread checkpoints at a time, as in bench.py's profile mode).
checkpoints_taken = 0


def iterative_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` for ROUND-TRANSIENT state in iterative loops
    (star-CC rounds, k-core survivor sets, BFS frontiers, HITS scores),
    stored serialized at :data:`LEVEL`.

    Serialized storage keeps on-wire bytes (~3-6x smaller than row
    objects): it turned the 32M-edge deep-chain star-CC OOM at 16 GiB
    into a finish (SCALING.md r11/r12). Catalyst's plan-size estimate
    cannot tell that regime from registry-scale round state of a few KB
    (it multiplies child estimates through the joins that build round
    state and reads 10^12 to 10^187 bytes for both), so every round is
    stored the same way (SCALING.md r16)."""
    global checkpoints_taken
    checkpoints_taken += 1
    return df.localCheckpoint(eager=True, storageLevel=LEVEL)


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the storage blocks behind a ``localCheckpoint()``-ed frame.

    Iterative kernels re-checkpoint per round (through :func:`fixpoint`,
    the only caller);
    ``localCheckpoint`` pins each round's blocks in the BlockManager and
    driver-side GC releases them far too lazily through py4j finalizers
    — measured: a 16M-edge alternating-star run OOMed an 8 GiB heap on
    accumulated dead rounds (r10 scale probe). Calling this on the
    PREVIOUS round after the next round's (eager) checkpoint has
    materialized bounds live storage to one round.

    DANGER: a localCheckpoint's blocks ARE its data (lineage is
    truncated) — releasing a frame that still feeds a future action
    makes that action FAIL LOUDLY with missing blocks (never silently
    wrong). Only call on frames with no remaining consumers.

    Returns True if blocks were found and released. Uses the analyzed
    plan's ``LogicalRDD`` handle; quietly no-ops on anything else.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False


class NotConvergedError(RuntimeError):
    """A :func:`fixpoint` loop was still changing its state when its
    round budget ran out. Returning that state would be a silently wrong
    answer (a mislabeled component, a half-peeled core), so the loop
    raises instead."""


def fixpoint(
    step: Callable[[DataFrame, int], DataFrame],
    init: DataFrame,
    *,
    rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    name: str,
) -> tuple[DataFrame, int]:
    """Run an iterative kernel: ``state_r = step(state_{r-1}, r)`` for
    ``r = 1, 2, ...``, starting from ``state_0 = init``.

    Per round the loop checkpoints the step's (lazy) result with
    :func:`iterative_checkpoint`, so every round plans against a
    materialized frame and lineage stays one round deep. ``init`` is
    generation 0: each generation's blocks are released once the next
    is materialized and, for a convergence loop, checked — so a step
    may read only the state it is given (plus frames the kernel built
    before the loop), never an older generation, and must not be handed
    an ``init`` that anything reads after the loop.

    Budget:

    * ``converged is None`` — a fixed unroll of ``rounds`` rounds.
    * ``converged(prev, new)`` given (True when the round changed
      nothing) — up to ``rounds`` rounds may change the state and one
      more may observe that nothing changed. The loop stops at the first
      unchanged round; a state still changing after ``rounds + 1``
      rounds raises :class:`NotConvergedError` naming the kernel, the
      rounds run and the budget.

    A step ends the loop early by returning its input unchanged (an
    empty BFS frontier, a peel round that removed nobody): nothing more
    is checkpointed and that state is the result.

    Returns ``(final state, rounds run)``.
    """
    state = init
    budget = rounds if converged is None else rounds + 1
    for r in range(1, budget + 1):
        new = step(state, r)
        if new is state:
            return state, r - 1
        new = iterative_checkpoint(new)
        done = converged is not None and converged(state, new)
        release_local_checkpoint(state)
        state = new
        if done:
            return state, r
    if converged is not None:
        raise NotConvergedError(
            f"{name} did not converge: still changing after {budget} rounds "
            f"(budget: {rounds} rounds that may change the state + 1 that "
            "observes no change); raise its round budget"
        )
    return state, max(rounds, 0)
