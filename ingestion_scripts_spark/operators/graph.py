"""Iterative graph operators: weighted PageRank in exact integer units.

PageRank over a transition graph is the standard importance prior for
crawl scheduling and source weighting in web-scale corpus curation
(the original use case). The iterative structure is the interesting
part for a Spark engine: a fixed number of join+aggregate rounds, each
keyed by node — no driver-side state beyond the loop counter, so a
billion-node graph runs as `iters` ordinary shuffles.

Cross-engine determinism: ranks live in integer micro-units
(1.0 → 1_000_000). Every per-edge contribution is an exact integer
floor-division `(r_u * w) div out_total`, and the damping update is
`150_000 + (85 * Σc) div 100` — all BIGINT, so results are independent
of aggregation-tree shape and bit-identical across engines. (Dangling
nodes — no out-edges — simply leak their mass, the usual simplification
when ranks are used as relative ordering weights.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import fixpoint, iterative_checkpoint, persist_tracked

#: Row cap under which a KNOWN-COUNT round-state frame (survivor set,
#: BFS frontier, settled-label set) is broadcast into its per-round join
#: instead of shuffled. Checkpointed round state is an ExistingRDD with
#: no Catalyst stats, so neither the planner nor AQE can ever pick the
#: broadcast side on its own — every round of an iterative kernel pays
#: full SortMergeJoin exchanges on BOTH sides (observed: 3 Exchanges per
#: peel round in kcore_parts' sf0.1 plan). The kernels below track exact
#: row counts anyway (convergence checks), so the decision is free and
#: scale-adaptive: a 100 TB graph's round state exceeds the cap and
#: keeps the shuffled join; a shrunken survivor set/frontier flips to
#: broadcast exactly like AQE would with stats. 2M rows of bigint ≈
#: 16 MB exec-side — env-tunable for cluster memory geometry.
_BC_STATE_ROWS = int(os.environ.get("SPARK_GRAFT_BC_STATE_ROWS", "2000000"))


def _bc_if_small(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast ``df`` when its exact row count is known and small."""
    if n_rows is not None and n_rows <= _BC_STATE_ROWS:
        return F.broadcast(df)
    return df


#: 1.0 in micro-units
_ONE = 1_000_000
#: damping 0.85 as an exact integer rational
_DAMP_NUM, _DAMP_DEN = 85, 100
#: (1 - 0.85) * 1e6
_BASE = 150_000


def pagerank_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    iters: int = 3,
) -> DataFrame:
    """Weighted PageRank, ``iters`` exact-integer rounds.

    ``edges``: (src, dst, w>0). Returns (node, pr_u, pr) where ``pr_u``
    is the BIGINT micro-unit rank and ``pr`` its float rendering.

    Each round: c(u→v) = (r_u · w_uv) div out_u ; r'(v) = 150000 +
    (85 · Σ_u c) div 100. Ranks start at 1.0 (unnormalized PageRank —
    no global N in the law, so the update is purely edge-local)."""
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("bigint").alias("w"),
        )
        .join(
            edges.groupBy(F.col(src_col).alias("src")).agg(
                F.sum(F.col(weight_col).cast("bigint")).alias("wt")
            ),
            "src",
        )
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.select("node", F.lit(_ONE).cast("bigint").alias("r"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div wt").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.expr(
                f"CAST({_BASE} + ({_DAMP_NUM} * coalesce(c, 0L)) div {_DAMP_DEN} "
                "AS BIGINT)"
            ).alias("r"),
        )
    return ranks.select(
        "node",
        F.col("r").alias("pr_u"),
        (F.col("r") / F.lit(float(_ONE))).alias("pr"),
    )


def triangle_stats(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Per-node triangle count and local clustering coefficient.

    ``edges`` is an undirected simple graph given as one row per edge with
    ``a < b`` (the caller dedupes/canonicalizes). Returns
    ``(node, degree, triangles, cc_micro)`` for every node, where
    ``cc_micro = (2_000_000 * triangles) div (degree * (degree - 1))``
    (0 for degree < 2) — exact BIGINT, engine- and partition-exact.

    Scale shape: edges are ORIENTED from the lower-(degree, id) endpoint
    to the higher one before the wedge join, the classic trick that
    bounds every node's out-degree by O(sqrt(m)) on any graph and keeps
    total wedge volume at O(m^1.5) instead of sum-of-squared-degrees —
    the difference between a skew-safe plan and a hub node exploding the
    join. Triangle identity is orientation-invariant, so the oracle may
    enumerate with plain id-ordering and counts still match exactly.
    """
    e = edges.select(
        F.col(a_col).cast("bigint").alias("a"),
        F.col(b_col).cast("bigint").alias("b"),
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient each edge low(deg,id) -> high(deg,id)
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
    )
    w1, w2, w3 = ed.alias("w1"), ed.alias("w2"), ed.alias("w3")
    tri = (
        w1.join(w2, F.col("w1.v") == F.col("w2.u"))
        .join(
            w3,
            (F.col("w3.u") == F.col("w1.u")) & (F.col("w3.v") == F.col("w2.v")),
        )
        .select(
            F.col("w1.u").alias("n1"),
            F.col("w1.v").alias("n2"),
            F.col("w2.v").alias("n3"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("n1", "n2", "n3")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2000000 * coalesce(triangles, 0L)) div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("cc_micro"),
        )
    )


def symmetrize_distinct(e: DataFrame) -> DataFrame:
    """Distinct undirected edge set of (a, b) rows — both orientations
    out, self-loops dropped — via CANONICAL-pair distinct: least/greatest
    normalizes duplicates and orientations onto E canonical rows BEFORE
    the hash-distinct, then the two orientations union back disjointly
    (a<b vs a>b — no second distinct possible or needed). Exactly the
    rows of union(e, swap(e)).filter(a != b).distinct(), but the heavy
    shuffle sees E rows instead of 2E — the seed stage that bounded the
    deep-iteration memory envelope (SCALING.md r11: 64M-edge seed
    symmetrize-distinct OOMed a 16 GiB single-JVM heap at 2E rows)."""
    canon = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    return canon.union(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "a",
    dst: str = "b",
    node_col: str = "node",
    max_hops: int = 6,
) -> DataFrame:
    """Bounded-hop BFS (unweighted shortest path) from a source SET over
    an undirected edge list — the traversal primitive next to
    ``pagerank_int`` (global importance), ``triangle_stats`` (local
    density) and connected components (reachability): hop distance says
    HOW FAR, not just whether, a node is from the seeds.

    Frontier iteration: the state is the settled labels (node, hops);
    round h joins only the frontier (hops == h-1) against the edge list
    and keeps the nodes not yet labeled, so a node is expanded exactly
    once and per-round cost is O(frontier boundary), not O(visited).
    One checkpoint per round (``caching.fixpoint``). ``max_hops`` bounds
    rounds (and state) — the production form for "within k hops"
    questions; unreached nodes are simply absent. An empty frontier ends
    the loop early.

    Returns (node, hops) with hops = exact minimal hop count <= max_hops.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    esym = iterative_checkpoint(symmetrize_distinct(e))

    def hop(labels: DataFrame, h: int) -> DataFrame:
        # exact settled/frontier counts from one aggregate over the
        # materialized labels: an empty frontier ends the loop, and the
        # counts let the per-hop joins broadcast their small side (r14,
        # guide §3): checkpointed round state has no runtime stats, so
        # the planner otherwise sort-merge-joins the FULL edge list
        # against a frontier of a few thousand nodes every hop. Past the
        # row cap the shuffled join returns — scale-adaptive, not a
        # local[32] tune.
        n_labels, n_frontier = labels.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("hops") == h - 1, 1))
        ).first()
        if n_frontier == 0:
            return labels
        frontier = labels.filter(F.col("hops") == h - 1).select("node")
        reached = (
            _bc_if_small(frontier, n_frontier)
            .join(esym, frontier["node"] == esym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
        )
        fresh = reached.join(
            _bc_if_small(labels.select("node"), n_labels), "node", "left_anti"
        )
        return labels.union(fresh.withColumn("hops", F.lit(h).cast("bigint")))

    seeds = iterative_checkpoint(
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint"))
    )
    labels, _ = fixpoint(hop, seeds, rounds=max_hops, name="bfs_hops")
    return labels


def hits_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    iters: int = 4,
) -> DataFrame:
    """HITS hub/authority scores (Kleinberg, JACM 1999) in exact integer
    micro-units — the companion to ``pagerank_int`` for directed
    importance where 'points at good pages' (hub) and 'is pointed at by
    good hubs' (authority) are distinct signals (source-quality vs
    content-quality weighting in crawl curation).

    Determinism without float normalization: scores start at 1e6; each
    half-round computes raw BIGINT sums a'(v) = Σ_u w·h(u) (resp.
    h'(u) = Σ_v w·a(v)) then rescales by the round's MAX via exact
    integer division (x · 1e6) div max — the max joins in as a broadcast
    1-row aggregate, so every value stays ≤ 1e6 and all arithmetic is
    BIGINT (≤ ~1e15 for weights < 1e3 · 1e6 nodes-fanin), independent of
    aggregation order and identical in the DuckDB oracle's unrolled CTEs.

    Per iteration: two keyed shuffles + two 1-row max aggregates. No
    driver state beyond the loop counter — same scale shape as
    ``pagerank_int``.

    The state is one (node, h, a) frame of RAW sums, checkpointed per
    half-round (``caching.fixpoint``, ``2·iters`` rounds): odd rounds
    replace ``a`` from the rescaled ``h``, even rounds ``h`` from the
    rescaled ``a``. The per-half-round checkpoint is load-bearing, not a
    tuning knob: each rescale references its raw-sum frame TWICE (the
    1-row max and the division), so without truncation the logical plan
    doubles every half-round — 2^(2·iters) re-derivations of the
    upstream edge build (measured: 225 s for a sub-second graph at
    sf0.01). Rescaling from the materialized frame keeps each round's
    plan to one join + one aggregate; one checkpoint per iteration
    instead re-plans the first half's aggregate under the second half
    and measured ~1.3× slower at sf0.1. The edge set and node list are
    checkpointed once for the same reason (each is read twice per
    iteration)."""
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("bigint").alias("w"),
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def rescaled(state: DataFrame, col: str, out: str) -> DataFrame:
        # (node, out): the raw sums scaled so the max is exactly 1e6
        mx = state.agg(F.max(col).alias("__max"))
        return state.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(f"({col} * 1000000) div greatest(__max, 1L)")
            .cast("bigint")
            .alias(out),
        )

    def half_round(state: DataFrame, r: int) -> DataFrame:
        # authority a(v) = Σ w·h(u) over edges u→v; hub h(u) = Σ w·a(v)
        if r % 2:
            score, out, frm, to = "h", "a", "src", "dst"
        else:
            score, out, frm, to = "a", "h", "dst", "src"
        scaled = rescaled(state, score, "s")
        raw = (
            e.join(scaled, e[frm] == scaled.node)
            .select(F.col(to).alias("node"), (F.col("w") * F.col("s")).alias("x"))
            .groupBy("node")
            .agg(F.sum("x").alias("x"))
        )
        # every node stays in the state: 0 when it has no in/out edge
        return state.select("node", score).join(raw, "node", "left").select(
            "node", score, F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias(out)
        )

    init = nodes.select(
        "node",
        F.lit(1).cast("bigint").alias("h"),
        F.lit(None).cast("bigint").alias("a"),
    )
    state, _ = fixpoint(half_round, init, rounds=2 * iters, name="hits_int")
    return rescaled(state, "h", "hub_u").join(
        rescaled(state, "a", "auth_u"), "node"
    )


def kcore_peel(
    edges: DataFrame,
    a_col: str,
    b_col: str,
    k: int,
    rounds: int = 6,
) -> DataFrame:
    """k-core subgraph by synchronous peeling (Seidman 1983; distributed
    formulation as in Montresor et al. 2013): repeatedly drop every node
    whose degree among SURVIVORS is < k. The k-core is the standard
    "dense kernel" filter in curation graphs — spam/link-farm detection
    on domain graphs, high-confidence co-occurrence mining on item
    graphs — where degree alone over-keeps star centers and components
    over-keep everything connected.

    Spark shape: the UNDIRECTED edge set is symmetrized once; each round
    is two semi-joins (edge endpoints against the survivor set) + one
    keyed count — all shuffles keyed by node, no driver state. The
    round state is the survivor set WITH its core_deg, checkpointed once
    per round (``caching.fixpoint``): peeling rounds chain plans (round r
    reads round r-1's survivors twice), so truncating lineage keeps the
    plan linear in ``rounds`` instead of exponential.

    ``rounds`` is a FIXED unroll, not run-to-convergence — the DuckDB
    oracle unrolls the identical chain, so both engines compute the same
    (possibly pre-fixpoint) set and the differential is exact. Peeling
    removes at least one node per non-converged round within any finite
    graph's peel depth; callers pick ``rounds`` >= the expected peel
    depth and the law test (tests/test_r6_new_ops.py) pins fixpoint
    on the query's actual graph.

    Returns survivors as (node, core_deg) — core_deg is the node's
    degree within the k-core (>= k by construction).
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    # the symmetrized edge set is read TWICE PER ROUND (once per endpoint
    # semi-join); checkpointing it once stops every round from re-running
    # the caller's upstream edge build (often itself a self-join)
    ed = iterative_checkpoint(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    # exact survivor count per round (a cheap scan of the materialized
    # checkpoint) drives two optimizations (r14, guide §2/§3): (1) the
    # survivor side broadcasts into both endpoint semi-joins once it fits
    # — checkpointed state has no runtime stats, so without this every
    # round is 2 SortMergeJoins with full exchanges; (2) an unchanged
    # count means fixpoint (survivors only ever shrink), so later rounds
    # are provably identity and the loop ends — the fixed unroll stays
    # result-identical because core_deg at fixpoint equals core_deg
    # after any number of further rounds.
    counts: list[int] = []

    def peel(alive: DataFrame, _r: int) -> DataFrame:
        counts.append(alive.count())
        if len(counts) > 1 and counts[-1] == counts[-2]:
            return alive
        live = ed.join(
            _bc_if_small(alive.select(F.col("node").alias("a")), counts[-1]),
            "a",
        ).join(
            _bc_if_small(alive.select(F.col("node").alias("b")), counts[-1]),
            "b",
        )
        return (
            live.groupBy("a")
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
            .select(F.col("a").alias("node"), "core_deg")
            .filter(F.col("core_deg") >= k)
        )

    nodes = iterative_checkpoint(
        ed.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("core_deg", F.lit(None).cast("bigint"))
    )
    alive, _ = fixpoint(peel, nodes, rounds=rounds, name="kcore_peel")
    return alive


def personalized_pagerank_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    seeds: DataFrame,
    seed_col: str,
    iters: int = 3,
) -> DataFrame:
    """Personalized PageRank (Haveliwala 2002): identical exact-integer
    update to ``pagerank_int`` except BOTH the initial mass and the
    teleport base land ONLY on the seed set — r0(v) = 1e6·[v∈S],
    r'(v) = 150000·[v∈S] + (85·Σ_u c(u→v)) div 100. The crawl-frontier
    prioritizer: global PageRank ranks by overall connectivity, PPR by
    proximity to TRUSTED seeds, which is what a curation crawl actually
    wants (spam farms rank globally; they do not rank from a vetted
    seed whitelist unless linked from it).

    Same scale shape: ``iters`` keyed join+agg rounds, no driver state.
    The seed-flagged node list is localCheckpoint-ed once — it is
    re-read every round (the teleport base) and derives from a full
    edge scan. Mass stays bounded by ~1.5e6·|S| micro-units total
    (teleport adds 0.15·|S| per round, propagation keeps ≤ 0.85 of it),
    so BIGINT arithmetic never overflows at any graph size.

    Returns (node, ppr_u, ppr).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("bigint").alias("w"),
        )
        .join(
            edges.groupBy(F.col(src_col).alias("src")).agg(
                F.sum(F.col(weight_col).cast("bigint")).alias("wt")
            ),
            "src",
        )
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    flagged = (
        nodes.join(sd.withColumn("__s", F.lit(1)), "node", "left")
        .select("node", F.coalesce(F.col("__s"), F.lit(0)).cast("bigint").alias("s"))
        .localCheckpoint()
    )
    ranks = flagged.select(
        "node", (F.col("s") * _ONE).cast("bigint").alias("r")
    )
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div wt").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        ranks = flagged.join(contrib, "node", "left").select(
            "node",
            F.expr(
                f"CAST(s * {_BASE} + ({_DAMP_NUM} * coalesce(c, 0L)) div {_DAMP_DEN} "
                "AS BIGINT)"
            ).alias("r"),
        )
    return ranks.select(
        "node",
        F.col("r").alias("ppr_u"),
        (F.col("r") / F.lit(float(_ONE))).alias("ppr"),
    )


def link_prediction_scores(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_degree: int = 500,
) -> DataFrame:
    """Link-prediction scores for every NON-edge 2-hop pair: common
    neighbors, Jaccard of neighbor sets, and Adamic-Adar — the classic
    triad (Liben-Nowell & Kleinberg 2003) behind "you may also like" /
    graph-completion candidates; on the part co-order graph it surfaces
    parts that are never bought together yet share buying contexts.

    ``edges``: undirected simple graph, one row per edge with a < b.
    Returns (u, w, common, jaccard_micro, aa_micro) for candidate pairs
    (u < w, not an existing edge, >= 1 common neighbor).

    Exactness: common and degrees are exact counts;
    ``jaccard_micro = (1e6 * common) div (deg_u + deg_w - common)`` is a
    truncating integer division (both engines truncate); Adamic-Adar's
    per-intermediary 1/ln(deg_z) is snapped to micro-units IMMEDIATELY
    (floor(1e6/ln + 0.5)) so the per-pair sum is an exact BIGINT —
    partition-order independent (the importance_weights idiom; libm ulp
    risk confined to the snap, the house-accepted precedent).

    Scale shape: candidates come from the wedge join through each
    intermediary z, so volume is sum_z deg(z)^2. Hub intermediaries are
    EXCLUDED above ``max_degree`` — the standard mitigation, and
    semantically principled: a hub contributes ~0 Adamic-Adar weight
    (1/ln(deg) -> 0) and no discriminative signal, while costing
    deg^2 candidates. The cap makes the blowup impossible by
    construction instead of hoping the degree distribution is kind; the
    oracle applies the identical cap so results stay differential.
    """
    e = edges.select(
        F.col(a_col).cast("bigint").alias("a"),
        F.col(b_col).cast("bigint").alias("b"),
    )
    nbr = e.select(F.col("a").alias("u"), F.col("b").alias("z")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("z"))
    )
    deg = nbr.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    zdeg = deg.select(F.col("u").alias("z"), F.col("deg").alias("zdeg"))
    # deg(z) >= 2: a degree-1 intermediary cannot form a wedge anyway, and
    # excluding it up front keeps 1/ln(deg) away from ln(1) = 0
    nbr_ok = nbr.join(zdeg, "z").filter(
        (F.col("zdeg") >= 2) & (F.col("zdeg") <= max_degree)
    )
    # 1/ln(deg_z) in micro-units, snapped once per intermediary
    aa_w = F.floor(1000000.0 / F.log(F.col("zdeg").cast("double")) + 0.5).cast(
        "bigint"
    )
    nbr_w = nbr_ok.select("u", "z", aa_w.alias("aw"))
    l, r = nbr_w.alias("l"), nbr_w.alias("r")
    wedges = l.join(
        r, (F.col("l.z") == F.col("r.z")) & (F.col("l.u") < F.col("r.u"))
    ).select(
        F.col("l.u").alias("u"),
        F.col("r.u").alias("w"),
        F.col("l.aw").alias("aw"),
    )
    scored = wedges.groupBy("u", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("common"),
        F.sum("aw").cast("bigint").alias("aa_micro"),
    )
    # drop existing edges (u < w matches the canonical edge orientation)
    cand = scored.join(
        e, (scored["u"] == e["a"]) & (scored["w"] == e["b"]), "left_anti"
    )
    du = deg.select(F.col("u"), F.col("deg").alias("du"))
    dw = deg.select(F.col("u").alias("w"), F.col("deg").alias("dw"))
    return (
        cand.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "common",
            F.expr("(1000000 * common) div (du + dw - common)")
            .cast("bigint")
            .alias("jaccard_micro"),
            "aa_micro",
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a node partition over an undirected simple
    graph (edges a < b, unweighted) — the single number that says whether
    a community assignment beats random chance, the standard quality
    gauge for the label-propagation / community queries.

    Exactness: Q = (1/(4m^2)) * sum_c (4m*in_c - deg_c^2) — the numerator
    is an exact BIGINT over exact edge/degree counts (nodes missing from
    ``labels`` become singleton communities via their own id, so the
    partition is total and sum_c deg_c = 2m holds); ONE float divide at
    the end. Returns a single row
    (m, n_communities, q_num, modularity).

    Scale shape: two keyed aggregations (within-community edge counts,
    per-community degree sums) over edges joined to a broadcast-or-
    shuffled label map — no iteration, no driver state.
    """
    e = edges.select(
        F.col(a_col).cast("bigint").alias("a"),
        F.col(b_col).cast("bigint").alias("b"),
    )
    lab = labels.select(
        F.col(node_col).cast("bigint").alias("node"),
        F.col(label_col).cast("bigint").alias("lab"),
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # consumed 3x (la, lb, per-community degree roll-up) — persist once
    # so the nodes-distinct shuffle and the label join run once, not 3x
    full = persist_tracked(
        nodes.join(lab, "node", "left").select(
            "node", F.coalesce("lab", F.col("node")).alias("lab")
        )
    )
    la = full.select(F.col("node").alias("a"), F.col("lab").alias("la"))
    lb = full.select(F.col("node").alias("b"), F.col("lab").alias("lb"))
    tagged = e.join(la, "a").join(lb, "b")
    m_row = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    in_c = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("in_c"))
    )
    deg = (
        full.join(
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d")),
            "node",
        )
        .groupBy("lab")
        .agg(F.sum("d").cast("bigint").alias("deg_c"))
    )
    per_c = deg.join(in_c, "lab", "left").select(
        "lab",
        F.coalesce("in_c", F.lit(0)).cast("bigint").alias("in_c"),
        "deg_c",
    )
    agg = per_c.crossJoin(F.broadcast(m_row)).agg(
        F.max("m").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum(
            F.lit(4) * F.col("m") * F.col("in_c") - F.col("deg_c") * F.col("deg_c")
        )
        .cast("bigint")
        .alias("q_num"),
    )
    return agg.select(
        "m",
        "n_communities",
        "q_num",
        F.round(
            F.col("q_num").cast("double")
            / (F.lit(4.0) * F.col("m").cast("double") * F.col("m").cast("double")),
            6,
        ).alias("modularity"),
    )


def degree_assortativity(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Degree assortativity coefficient r of an undirected simple graph
    (Newman 2002, "Assortative mixing in networks"): the Pearson
    correlation of endpoint degrees over the directed-edge multiset —
    r > 0 means hubs attach to hubs (social nets), r < 0 hubs attach to
    leaves (dependency / star topologies). The one-number "is this graph
    hub-and-spoke?" probe that decides whether hub-capping (the
    link_prediction max_degree guard) is load-bearing on a given corpus.

    ``edges`` holds each undirected edge once with a_col < b_col (the
    co-order convention shared with triangle_stats / link_prediction).

    Shape: degrees = one groupBy over the symmetrized edge list; each
    directed edge (u,v) then picks up (deg_u, deg_v) via two hash joins
    on the node key, and ONE aggregate forms the exact BIGINT moments
    (M = 2m, Σx, Σx², Σxy — x-marginal ≡ y-marginal by symmetry). Only
    the final r is float: num = M·Σxy − (Σx)², den = M·Σx² − (Σx)²,
    r_micro = floor(num/den·1e6 + 0.5) — both operands exact BIGINTs
    cast to double identically on both engines. den = 0 (regular graph:
    all degrees equal) → r_micro NULL.
    """
    sym = edges.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).unionByName(
        edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    du = deg.select(F.col("u").alias("du_n"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("dv_n"), F.col("d").alias("dy"))
    flat = (
        sym.join(du, sym["u"] == du["du_n"])
        .join(dv, sym["v"] == dv["dv_n"])
        .select("dx", "dy")
    )
    mo = flat.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    return mo.select(
        "m2",
        "sx",
        "sxx",
        "sxy",
        F.when(
            F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
            F.floor(
                (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx"))
                .cast("double")
                / (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("r_micro"),
    )


def transitivity(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """GLOBAL clustering coefficient (transitivity) of an undirected
    simple graph — C = 3·triangles / wedges, the one-number companion to
    :func:`triangle_stats`' per-node coefficients and the standard
    "is this co-occurrence graph clique-ish or star-ish?" readout
    (Newman, "The structure and function of complex networks", 2003,
    eq. 3.3).

    Exactness: Σ_node triangles ≡ 3·T exactly (each triangle counted at
    its three corners), wedges = Σ deg·(deg−1) div 2; both accumulate in
    DECIMAL(38,0) (deg² sums exceed BIGINT on hub-heavy corpora);
    transitivity_ppm = (3T·1e6) div W is one terminal exact ``div``,
    NULL when W = 0 (e.g. a perfect matching, every degree 1) — guarded
    identically in the SQL twin so the engines agree on wedge-free input.
    Returns one row: (n_nodes, n_triangles, n_wedges, transitivity_ppm).

    Scale: inherits triangle_stats' degree-oriented wedge join (total
    wedge volume O(m^1.5), hub-safe); the closing aggregate is one
    partial-aggregable pass over the per-node table.
    """
    d38 = "decimal(38,0)"
    per_node = triangle_stats(edges, a_col, b_col)
    return per_node.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum(F.col("triangles").cast(d38)) / 3).cast("bigint").alias("n_triangles"),
        F.sum(
            (
                F.col("degree").cast("decimal(19,0)")
                * (F.col("degree").cast("decimal(19,0)") - 1)
            )
        )
        .cast(d38)
        .alias("__wedges2"),
        F.sum(F.col("triangles").cast(d38)).cast(d38).alias("__tri3"),
    ).select(
        "n_nodes",
        "n_triangles",
        F.expr("__wedges2 div 2").cast("bigint").alias("n_wedges"),
        F.expr(
            "CASE WHEN __wedges2 = 0 THEN NULL"
            " ELSE (__tri3 * 1000000) div (__wedges2 div 2) END"
        )
        .cast("bigint")
        .alias("transitivity_ppm"),
    )
