"""``caching.fixpoint`` — the one loop behind every iterative
kernel: its budget law, its generation release, and a ratchet that keeps
hand-rolled checkpoint loops from growing back in the operators."""

from __future__ import annotations

import ast
import inspect
import pathlib

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.caching import NotConvergedError, fixpoint


def _x(df) -> int:
    return df.first()["x"]


def _level(df):
    """Storage level of a checkpointed frame's blocks."""
    return df._jdf.queryExecution().analyzed().rdd().getStorageLevel()


def test_fixpoint_budget_law(spark):
    init = spark.createDataFrame([(0,)], "x bigint")

    # a fixed unroll runs exactly `rounds` rounds
    calls = []

    def inc(state, r):
        calls.append(r)
        return state.select((F.col("x") + 1).alias("x"))

    out, n = fixpoint(inc, init, rounds=5, name="unroll")
    assert calls == [1, 2, 3, 4, 5] and n == 5 and _x(out) == 5

    # a converged loop stops at the first unchanged round: x climbs to 3
    # in rounds 1-3, round 4 observes no change — however large the budget
    def capped(state, _r):
        return state.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))

    def same(prev, new):
        return _x(prev) == _x(new)

    for budget in (3, 10):
        out, n = fixpoint(capped, init, rounds=budget, converged=same, name="capped")
        assert (n, _x(out)) == (4, 3)

    # budget exhaustion: 2 changing rounds + the 1 observing round run,
    # and the third still changes -> loud error with name and round count
    with pytest.raises(
        NotConvergedError,
        match=r"^capped did not converge: still changing after 3 rounds "
        r"\(budget: 2 rounds",
    ):
        fixpoint(capped, init, rounds=2, converged=same, name="capped")


def test_fixpoint_releases_generations_and_stops_on_identity(spark):
    from ingestion_scripts_spark.caching import iterative_checkpoint

    seen = []

    def inc_until_2(state, _r):
        seen.append(state)
        if _x(state) == 2:
            return state  # nothing left to do: ends the loop
        return state.select((F.col("x") + 1).alias("x"))

    init = iterative_checkpoint(spark.createDataFrame([(0,)], "x bigint"))
    out, n = fixpoint(inc_until_2, init, rounds=10, name="identity")
    # rounds 1-2 materialized; round 3's step returned its input
    assert n == 2 and _x(out) == 2 and seen[-1] is out
    # generation 0 (init) and 1 were released once their successor
    # materialized; the returned state keeps its blocks
    assert [_level(g).useMemory() for g in seen] == [False, False, True]


def test_every_checkpoint_is_stored_serialized_and_counted(spark):
    """One storage level, whatever the frame's size: a 100-row checkpoint
    and every round of a loop are kept serialized in memory and on disk,
    and each checkpoint moves the module's counter by one."""
    from ingestion_scripts_spark import caching

    def stored(df):
        lvl = _level(df)
        return lvl.useMemory(), lvl.useDisk(), lvl.deserialized()

    tiny = caching.iterative_checkpoint(spark.range(100))
    assert stored(tiny) == (True, True, False)

    levels = []

    def inc(state, r):
        if r > 1:
            levels.append(stored(state))  # round r-1, not yet released
        return state.select((F.col("id") + 1).alias("id"))

    before = caching.checkpoints_taken
    out, n = fixpoint(inc, tiny, rounds=3, name="levels")
    levels.append(stored(out))
    assert n == 3 and caching.checkpoints_taken == before + 3
    assert levels == [(True, True, False)] * 3


#: the iterative kernels and the module each lives in
KERNELS = {
    "dedup": ("connected_components", "connected_components_star"),
    "graph": ("bfs_hops", "kcore_peel", "hits_int"),
    "clustering": ("kcenter_greedy",),
    "text_analysis": ("max_coverage_select",),
}


def test_iterative_kernels_loop_only_through_fixpoint():
    """Ratchet: the operators checkpoint round state only through
    ``caching.fixpoint`` — no ``localCheckpoint`` / ``iterative_checkpoint``
    call inside a loop, and ``release_local_checkpoint`` named nowhere in
    the package but ``caching.py``. Hand-rolled loops each re-decided
    checkpoint cadence, release and the budget, and three bugs came from
    that repetition."""
    import importlib

    import ingestion_scripts_spark as P

    root = pathlib.Path(P.__file__).parent
    for path in sorted(root.rglob("*.py")):
        if path.name != "caching.py":
            assert "release_local_checkpoint" not in path.read_text(), path

    n_files = 0
    for path in sorted((root / "operators").glob("*.py")):
        n_files += 1
        for loop in ast.walk(ast.parse(path.read_text())):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in ast.walk(loop):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                    assert name not in ("localCheckpoint", "iterative_checkpoint"), (
                        f"{path.name}:{node.lineno}: {name} inside a loop; "
                        "use caching.fixpoint"
                    )
    assert n_files > 10

    for mod, fns in KERNELS.items():
        m = importlib.import_module(f"ingestion_scripts_spark.operators.{mod}")
        for fn in fns:
            assert "fixpoint(" in inspect.getsource(getattr(m, fn)), fn
