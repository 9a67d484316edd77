"""connected_components_star (large-star/small-star) vs union-find ground
truth AND vs the plain min-label-propagation implementation — including the
adversarial long-path graph the star variant exists for (O(log L) rounds
vs O(L))."""

import random

import pytest

from ingestion_scripts_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _truth(edges):
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    comps = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    for ns in comps.values():
        m = min(ns)
        for n in ns:
            out[n] = m
    return out


CASES = {
    "long_path": [(i, i + 1) for i in range(400)],
    "random": None,  # filled below with a fixed seed
    "cliques_bridge": (
        [(a, b) for a in range(10) for b in range(a + 1, 10)]
        + [(a, b) for a in range(50, 58) for b in range(a + 1, 58)]
        + [(9, 50)]
    ),
}
rng = random.Random(7)
CASES["random"] = [
    (rng.randrange(100), rng.randrange(100)) for _ in range(80)
]


@pytest.mark.parametrize("case", list(CASES), ids=list(CASES))
def test_star_cc_matches_truth(spark, case):
    edges = [(a, b) for a, b in CASES[case] if a != b]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r.node: r.comp for r in connected_components_star(df).collect()}
    assert got == _truth(edges)


def test_star_cc_matches_label_propagation(spark):
    edges = [(a, b) for a, b in CASES["random"] if a != b]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    star = {r.node: r.comp for r in connected_components_star(df).collect()}
    plain = {r.node: r.comp for r in connected_components(df).collect()}
    assert star == plain


def test_plain_cc_raises_instead_of_truncating(spark):
    """connected_components must fail loudly when the diameter exceeds the
    round budget — a silently mislabeled long chain is how ER-style graphs
    corrupt downstream dedup (caught live on snm chains at sf0.1)."""
    import pytest as _pytest
    from ingestion_scripts_spark.caching import NotConvergedError
    from ingestion_scripts_spark.operators import dedup as D

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    with _pytest.raises(NotConvergedError, match="did not converge"):
        D.connected_components(chain, max_iter=3).collect()
    # with budget >= diameter it converges to one component
    ok = D.connected_components(chain, max_iter=31).collect()
    assert {r["comp"] for r in ok} == {0}


def test_default_components_is_star():
    """Selection policy (VERDICT r4 item 7): the package default
    ``components`` must be the adversarial-chain-safe star variant;
    min-label stays available as the diameter-bounded fast path and the
    differential oracle."""
    from ingestion_scripts_spark.operators import dedup as D

    assert D.components is D.connected_components_star


def test_star_cc_unconverged_error_reports_rounds_run(spark):
    """A path of length 64 has diameter 64 > 2^2: with max_iter=2 the star
    loop exhausts its budget of max_iter changing rounds + 1 observing
    round and must say how many rounds it actually ran (3), not just
    max_iter."""
    from ingestion_scripts_spark.caching import NotConvergedError

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(
        NotConvergedError,
        match=r"connected_components_star did not converge: still changing "
        r"after 3 rounds \(budget: 2 rounds that may change the state \+ 1",
    ):
        connected_components_star(chain, max_iter=2)
