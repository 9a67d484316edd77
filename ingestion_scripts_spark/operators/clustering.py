"""Deterministic distributed k-means over embedding columns (extension op,
SURVEY §2.9 — the clustering stage of cluster-balanced data curation, e.g.
dedup-then-diversify corpus selection before LLM training).

Spark-first shape (identical to MLlib's k-means loop, restated on the
DataFrame API so the whole per-iteration pass stays in whole-stage codegen):

- centroids live on the DRIVER as k×dim literals (tiny — k=8, dim=64) and
  are embedded into the assignment expression each iteration, exactly like
  a broadcast: no join, no shuffle for assignment, one narrow map.
- the re-center step is a single groupBy(cluster) with per-dimension
  ``avg`` — map-side partial aggregation means the shuffle moves k rows per
  task, independent of corpus size. Per iteration: 1 narrow map + 1 tiny
  keyed shuffle + a k-row collect. This is the canonical 100 TB k-means:
  cost is O(n·k·dim) compute, O(k·dim) driver memory, O(tasks·k) shuffle.

Cross-engine determinism (the DuckDB oracle re-runs the SAME algorithm from
scratch — a genuinely independent differential test, no shared state):

- init: centroids = the k embeddings with the smallest ids (no RNG).
- re-centering is EXACT integer arithmetic (components snapped to int64
  micro-units, summed exactly, mean re-rounded with the floor idiom) —
  partition-order-independent, so the working set can be repartitioned
  freely and both engines compute identical centroids by construction
  (a float ``avg`` would tie the result to the aggregation tree shape).
- squared-L2 distances are rounded to 6 decimals BEFORE the argmin and
  ties break to the lowest cluster id, so assignment is identical even
  when two centroids are equidistant at the 1e-6 grid.
- empty clusters keep their previous centroid on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import fixpoint
from ..functions.lits import bigint_array
from ..sources.readers import spread


def cluster_assignment(vec, centroids: list[list[float]]):
    """The argmin struct ``(d, c)`` of :func:`assign_clusters` as a bare
    Column over an arbitrary vector expression — split out (optimization
    r14) so multi-codebook fits (product quantization trains one fit per
    contiguous slice of the SAME vector) can assign every subspace in one
    projection instead of one DataFrame pass per subspace. Semantics are
    identical to :func:`assign_clusters`'s expression: rounded-distance
    argmin, lowest-id tie-break, matrix as ONE ``F.expr`` literal."""
    matrix = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in row)
            + ")"
            for row in centroids
        )
        + ")"
    )
    dists = F.transform(
        matrix,
        lambda cen: F.round(
            F.aggregate(
                F.zip_with(vec, cen, lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )
    return F.array_sort(
        F.transform(
            dists,
            lambda d, i: F.struct(d.alias("d"), i.alias("c")),
        )
    ).getItem(0)


def assign_clusters(
    pts: DataFrame, centroids: list[list[float]], vec_col: str = "v"
) -> DataFrame:
    """Append ``cluster_id`` / ``d2`` = argmin over literal centroids.

    Rounded-distance argmin with lowest-id tie-break: the k×dim centroid
    matrix is ONE nested-array literal and the per-centroid distances come
    from a single ``transform`` over it (fold in index order — matches the
    oracle's list_transform(range) sum order), so the expression tree is
    O(1) HOFs instead of O(k) aggregate folds. Argmin = sort (d2, cid)
    structs (field-order lexicographic), take the head — one expression,
    no join, no shuffle.

    The matrix literal is built as a single ``F.expr`` SQL string, not
    nested ``F.array(F.lit(...))`` columns: k·dim literal Columns cost
    k·dim py4j round-trips PER assignment build (k-means builds this 3+
    times per fit — measured as seconds of pure driver time), while one
    SQL string is one round-trip and a fast JVM parse. Elements render as
    ``CAST('<repr>' AS DOUBLE)`` so the value round-trips bit-exactly.
    """
    best = cluster_assignment(F.col(vec_col), centroids)
    return pts.withColumn("cluster_id", best["c"]).withColumn("d2", best["d"])


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means, ``iters`` rounds, deterministic init (k smallest
    ids). Returns (final centroids, assignment DataFrame with
    ``cluster_id``/``d2``). The only driver-side data is k×dim floats per
    iteration — the distributed passes never materialize on the driver.

    Re-centering law (PARTITION-ORDER-INDEPENDENT): each component is
    first snapped to exact integer micro-units (floor(x·1e6 + 0.5), the
    house cross-engine rounding idiom), summed as int64 (exact, any
    partitioning / any merge order), and the mean re-rounded to 6 dp with
    the same idiom. A float ``avg`` here would tie the result to the
    partial-aggregation tree shape — the layout could never be
    repartitioned without risking a last-ULP flip under the 6 dp rounding
    (the nation_profit bug class), which is exactly what pinned the whole
    training loop to one task when the corpus arrives as a single split.
    """
    import math

    r6 = lambda x: math.floor(x * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    pts = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # iterative passes: spread to cores when the scan under-splits (no-op
    # at real corpus sizes), then LOCAL-CHECKPOINT the working set: unlike
    # persist(), this truncates the logical lineage, so the 3+ actions of
    # the training loop re-optimize a one-node LogicalRDD instead of the
    # full upstream plan each time (upstream normalization HOF trees made
    # Catalyst re-analysis the dominant cost of a fit on a small corpus —
    # and at any scale it is pure waste). Executor-local storage is the
    # right durability trade for a re-runnable training loop; a multi-hour
    # 100 TB job that must survive executor loss uses checkpoint() instead.
    pts = spread(pts).localCheckpoint()
    seed_rows = pts.orderBy("__id").limit(k).collect()
    centroids = [[r6(float(x)) for x in r["v"]] for r in seed_rows]
    dim = len(centroids[0])

    for _ in range(iters):
        assigned = assign_clusters(pts, centroids)
        # re-center via posexplode + (cluster, dim) groupBy: an O(1)-size
        # expression tree, and the shuffle still moves only k*dim rows per
        # task (partial agg); sums are exact int64 micro-units (see law)
        stats = (
            assigned.select("cluster_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("val") * 1000000.0 + 0.5).cast("bigint")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in stats:
            new.setdefault(r["cluster_id"], [0.0] * dim)[r["pos"]] = (
                math.floor(r["s"] / r["n"] + 0.5) / 1000000.0
            )
        centroids = [new.get(c, centroids[c]) for c in range(len(centroids))]

    return centroids, assign_clusters(pts, centroids)


def sql_kmeans_ctes(
    prefix: str,
    pts_sql: str,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
) -> tuple[list[str], str, str]:
    """The unrolled-kmeans CTE chain with a NAMESPACE PREFIX, so several
    independent fits can live in one statement (product quantization
    trains one per subspace). ``pts_sql`` must yield (vec_id, v).
    Returns (ctes, final-assignment CTE name, final-centroid CTE name);
    the assignment CTE still carries its rn column (filter rn = 1)."""
    p = prefix
    d2 = (
        f"round(list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (v[i] - c[i]) * (v[i] - c[i]))), 6)"
    )
    ctes = [
        f"{p}pts AS ({pts_sql})",
        (
            f"{p}cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, "
            "list_transform(v, x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS c "
            f"FROM (SELECT vec_id, v FROM {p}pts ORDER BY vec_id LIMIT {k}))"
        ),
    ]
    for t in range(iters):
        nxt = t + 1
        ctes += [
            (
                f"{p}a{t} AS (SELECT vec_id, v, cid, {d2} AS d2, "
                "row_number() OVER (PARTITION BY vec_id ORDER BY "
                f"{d2} ASC, cid ASC) AS rn FROM {p}pts, {p}cent{t})"
            ),
            (
                # partition-order-independent re-centering law (= kmeans_fit):
                # exact int64 micro-unit sums, floor(x+0.5) mean re-rounding
                f"{p}pc{t} AS (SELECT cid, ii.i AS i, "
                "floor(sum(CAST(floor(v[ii.i] * 1000000.0 + 0.5) AS BIGINT)) "
                "/ count(*) + 0.5) / 1000000.0 AS m "
                f"FROM {p}a{t}, (SELECT unnest(range(1, {dim} + 1)) AS i) ii "
                "WHERE rn = 1 GROUP BY 1, 2)"
            ),
            (
                f"{p}cent{nxt} AS (SELECT c0.cid, coalesce(n.c, c0.c) AS c "
                f"FROM {p}cent{t} c0 LEFT JOIN "
                f"(SELECT cid, list(m ORDER BY i) AS c FROM {p}pc{t} GROUP BY cid) n "
                "USING (cid))"
            ),
        ]
    ctes.append(
        (
            f"{p}fin AS (SELECT vec_id, v, cid AS cluster_id, {d2} AS d2, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY "
            f"{d2} ASC, cid ASC) AS rn FROM {p}pts, {p}cent{iters})"
        )
    )
    return ctes, f"{p}fin", f"{p}cent{iters}"


def sql_kmeans(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``kmeans_fit``: the iteration unrolled as CTEs,
    recomputing init/assign/re-center from scratch (independent
    differential test of the whole algorithm). Yields
    (vec_id, v, cluster_id, d2) after the final assignment."""
    ctes, fin, _ = sql_kmeans_ctes(
        "",
        f"SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}",
        k=k,
        iters=iters,
        dim=dim,
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, cluster_id, d2 FROM {fin} WHERE rn = 1"
    )


def kcenter_greedy(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
):
    """Greedy k-center / farthest-point coreset selection (Gonzalez 1985):
    seed with the smallest id, then k-1 times pick the point FARTHEST from
    its nearest already-selected center. The classic 2-approximation to
    the k-center cover — the "diversify" half of dedup-then-diversify
    corpus selection, and the standard seeding for coresets: the selected
    rows cover the embedding space within 2x the optimal radius, so a
    downstream sampler that quotas around them sees every mode of the
    corpus (where uniform sampling oversamples dense regions).

    Spark shape: the working set carries a RUNNING ``dmin`` column —
    each round folds only the distance to the NEWEST center with
    ``least(dmin, d_new)`` and checkpoints (``caching.fixpoint``; the
    engine's lineage rule: the round frame is read twice — top-1 probe +
    next update — so without truncation the plan would double per round, the
    hits_scores 225 s class). Total work is O(k·n) single-center
    distance evaluations (vs O(k²·n) when every round re-embeds ALL
    picked centers as a k-deep ``least`` chain), expression depth and
    codegen size are CONSTANT in k, and each round is ONE narrow map +
    a top-1 TakeOrdered — no shuffle at all. At 100 TB this is k
    embarrassingly parallel scans; driver state is one center vector
    per round (dim literals).

    Cross-engine determinism: components snap to exact int64 micro-units
    BEFORE any arithmetic, squared L2 distances are exact BIGINT sums
    (order-independent), argmax ties break to the smallest id, and the
    recorded ``picked_dist_sq`` (the coverage radius at selection time,
    a decreasing sequence) is an exact integer — the DuckDB oracle
    unrolls the identical k steps and matches bit-for-bit.

    Returns (rank, center_id, picked_dist_sq): rank 1..k in selection
    order; picked_dist_sq = 0 for the seed.
    """
    pts = df.select(
        F.col(id_col).alias("pid"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * 1000000.0 + F.lit(0.5)).cast("bigint"),
        ).alias("v"),
    )
    pts = spread(pts).localCheckpoint()

    def dist_to(center_vec: list[int]):
        arr = bigint_array(center_vec)
        return F.aggregate(
            F.zip_with(F.col("v"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seed = pts.orderBy("pid").limit(1).collect()[0]
    picked: list[tuple[int, int, int]] = [(1, seed["pid"], 0)]

    def pick_farthest(work: DataFrame) -> list[int]:
        far = work.orderBy(F.desc("dmin"), F.asc("pid")).limit(1).collect()[0]
        picked.append((len(picked) + 1, far["pid"], int(far["dmin"])))
        return list(far["v"])

    def fold_newest(work: DataFrame, _r: int) -> DataFrame:
        return work.select(
            "pid",
            "v",
            F.least(F.col("dmin"), dist_to(pick_farthest(work))).alias("dmin"),
        )

    if k > 1:
        # running min-distance-to-picked-set; identical to re-minimizing
        # over every picked center each round (min folds associatively),
        # so picks and radii are bit-identical to the unrolled form the
        # oracle states. Ranks 2..k-1 each fold their center into dmin;
        # rank k is only picked.
        work = pts.select(
            "pid", "v", dist_to(list(seed["v"])).alias("dmin")
        ).localCheckpoint()
        work, _ = fixpoint(fold_newest, work, rounds=k - 2, name="kcenter_greedy")
        pick_farthest(work)

    spark = df.sparkSession
    return spark.createDataFrame(
        picked, "rank bigint, center_id bigint, picked_dist_sq bigint"
    )
