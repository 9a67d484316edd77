"""Session-scoped registry for operator-internal persisted DataFrames.

Several operators persist an intermediate that their (lazy) result plan
consumes more than once — e.g. the token arrays in
``operators/setjoin.py::setsim_join`` are read three times (prefix
explode, verify-a, verify-b). The operator cannot unpersist before
returning: the caller has not run the consuming action yet. But leaving
the cache live forever is an unbounded leak across a long session that
builds hundreds of query plans (bench.py runs ~200).

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

import logging
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_log = logging.getLogger(__name__)

_LIVE: list[DataFrame] = []


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for later :func:`release_caches`."""
    df.persist(level)
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


#: Plan-stat threshold (bytes) above which round-transient checkpoints
#: switch to the serialized level. Catalyst's ``sizeInBytes`` estimate
#: for the frame being checkpointed is compared against this; the
#: deep-iteration regime that motivated serialization (SCALING.md r11:
#: 32M-edge star CC, two generations of transiently expanded edges)
#: estimates in the GiBs (the 32M-edge seed alone is ~1-2 GiB), while
#: every registry query's round state sits in the KB-MB range. 256 MiB
#: leaves two orders of magnitude of margin on both sides.
ITER_SER_THRESHOLD_BYTES = 256 << 20


#: bounded ring of storage-level decisions (plan-stat estimate bytes,
#: serialized?) — ADVICE r12: Catalyst's ``sizeInBytes`` after the joins
#: that build round state can be off by orders of magnitude, and a
#: wrong-but-successful estimate is otherwise invisible (an overestimate
#: silently re-taxes small round state; an underestimate on a genuinely
#: large frame re-exposes the OOM). Every decision is recorded here
#: AND debug-logged, so probes/tests can assert the regime a loop actually
#: ran in instead of inferring it from wall time. ``None`` estimate =
#: plan-stat unavailable (exception fallback, safe/serialized direction).
ITER_DECISIONS: list[tuple[int | None, bool]] = []
_ITER_DECISIONS_MAX = 256
#: ADVICE r13: the ring is process-global; concurrent queries interleave
#: entries, so per-loop regime assertions are only meaningful in
#: single-threaded probes/tests (the current consumers). The lock keeps
#: append+trim ATOMIC under concurrency (no lost updates / races on the
#: trim window) — it does not, and cannot, un-interleave entries;
#: a multi-threaded harness that wants per-query attribution should
#: scope its own ring around the loop it drives.
_ITER_DECISIONS_LOCK = threading.Lock()


def _record_iter_decision(est: int | None, ser: bool) -> None:
    with _ITER_DECISIONS_LOCK:
        ITER_DECISIONS.append((est, ser))
        if len(ITER_DECISIONS) > _ITER_DECISIONS_MAX:
            del ITER_DECISIONS[: -_ITER_DECISIONS_MAX]
    _log.debug(
        "iterative_checkpoint: plan-stat est=%s bytes (threshold %d) "
        "-> %s",
        est,
        ITER_SER_THRESHOLD_BYTES,
        "MEMORY_AND_DISK (serialized)" if ser else "MEMORY_AND_DISK_DESER",
    )


def iterative_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` for ROUND-TRANSIENT state in iterative loops
    (star-CC rounds, k-core survivor sets, BFS frontiers, HITS scores),
    at a SIZE-CONDITIONAL storage level: deserialized (the default
    level) for small round state, serialized MEMORY_AND_DISK above
    :data:`ITER_SER_THRESHOLD_BYTES` (Catalyst plan-stat estimate — no
    job is run to decide).

    Why conditional (r11→r12 adjudication, SCALING.md): the serialized
    level stores on-wire bytes (~3-6x smaller than row objects), which
    turned the 32M-edge deep-chain star-CC OOM at 16 GiB into a finish —
    but the r11 at-HEAD bench rerun priced unconditional serialization
    at +35-60% wall on the small iterative heavies (pq_recall,
    dedup_funnel, ppr_coorder), far above the commit's ~9% small-run
    claim, because each round pays a serialize+deserialize pass the
    sub-GiB regime gets nothing for. The quiet-host median-of-5 table
    in SCALING.md r12 carries the measured A/B; the threshold keeps the
    deep-regime OOM fix while returning registry-scale loops to the
    deserialized fast path. Hot multi-consumer checkpoints
    (global_rank's sorted layout) stay deserialized unconditionally."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = None  # unknown → safe direction (serialized)
    ser = est is None or est > ITER_SER_THRESHOLD_BYTES
    _record_iter_decision(est, ser)
    # PySpark naming: MEMORY_AND_DISK is the SERIALIZED level (the
    # Scala deserialized default is MEMORY_AND_DISK_DESER)
    level = (
        StorageLevel.MEMORY_AND_DISK if ser
        else StorageLevel.MEMORY_AND_DISK_DESER
    )
    return df.localCheckpoint(eager=True, storageLevel=level)


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
