"""k-means clustering operator (operators/clustering.py): convergence
semantics, nearest-centroid invariant vs numpy, empty-cluster handling,
and cross-engine equality of the full algorithm against the DuckDB twin.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    sql_kmeans,
)


def _emb_df(spark, n=60, dim=8, seed_groups=3):
    """Synthetic separable blobs: group g centered at 10*g per coordinate,
    deterministic offsets (no RNG)."""
    rows = []
    for i in range(n):
        g = i % seed_groups
        vec = [float(10 * g + ((i * 7 + d * 3) % 5) / 10.0) for d in range(dim)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_assignment_is_nearest_centroid(spark):
    df = _emb_df(spark)
    cents = [[0.0] * 8, [10.0] * 8, [20.0] * 8]
    pts = df.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("v"))
    got = {
        r["__id"]: r["cluster_id"]
        for r in assign_clusters(pts, cents).collect()
    }
    data = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    c = np.array(cents)
    for i, v in data.items():
        want = int(np.argmin(((c - v) ** 2).sum(axis=1)))
        assert got[i] == want


def test_kmeans_recovers_blobs(spark):
    df = _emb_df(spark, n=60, seed_groups=3)
    cents, assigned = kmeans_fit(df, "embedding", "vec_id", k=3, iters=3)
    rows = assigned.collect()
    # blobs are separated by 10 per coordinate; every member of a data blob
    # must land in the same cluster
    by_blob = {}
    for r in rows:
        by_blob.setdefault(r["__id"] % 3, set()).add(r["cluster_id"])
    assert all(len(s) == 1 for s in by_blob.values())
    # and the three clusters are distinct
    assert len({next(iter(s)) for s in by_blob.values()}) == 3


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # init ids 0/1/2 where vectors 1 and 2 are IDENTICAL: every point near
    # that blob ties between centroids 1 and 2 and the tie-break sends it
    # to the lower id — cluster 2 is empty from the first assignment and
    # must keep its init centroid instead of crashing or going NaN
    rows = [(0, [0.0] * 4), (1, [10.0] * 4), (2, [10.0] * 4)] + [
        (i, [10.0 + (i % 3) / 10.0] * 4) for i in range(3, 20)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents, assigned = kmeans_fit(df, "embedding", "vec_id", k=3, iters=2)
    assert len(cents) == 3
    # the empty cluster kept a well-defined centroid (no NaN / no crash);
    # [10,10,10,10] is a fixed point here: it's either never re-centered
    # (empty) or re-centered from exact-10.0 members it later recaptures
    assert cents[2] == [10.0] * 4
    assert all(all(not np.isnan(x) for x in c) for c in cents)
    assert assigned.count() == df.count()


@pytest.mark.parametrize("k,iters", [(4, 1), (8, 3)])
def test_kmeans_matches_duckdb_twin(spark, tmp_path, k, iters):
    df = _emb_df(spark, n=80, dim=8, seed_groups=4)
    pq = str(tmp_path / "embeddings.parquet")
    df.select("vec_id", F.col("embedding").cast("array<float>").alias("embedding")).write.mode(
        "overwrite"
    ).parquet(pq)
    emb = spark.read.parquet(pq)
    _, assigned = kmeans_fit(emb, "embedding", "vec_id", k=k, iters=iters)
    got = sorted(
        (r["__id"], r["cluster_id"], r["d2"]) for r in assigned.collect()
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM parquet_scan('{pq}/*.parquet')")
    sql = sql_kmeans("embeddings", "embedding", "vec_id", k=k, iters=iters, dim=8)
    want = sorted(tuple(t) for t in con.execute(sql).fetchall())
    assert got == want


def test_assignment_plan_is_narrow(spark):
    """The k-means assignment must be a pure narrow map: literal centroids
    mean NO join, NO Exchange of any kind — the property that makes one
    iteration cost a single pass over the data at 100 TB."""
    df = _emb_df(spark, n=40)
    pts = df.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("v"))
    plan = (
        assign_clusters(pts, [[0.0] * 8, [1.0] * 8])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_recenter_plan_has_partial_aggregation(spark):
    """The re-center groupBy must plan as partial HashAggregate → Exchange
    → final HashAggregate, so each task ships k rows, not its points."""
    df = _emb_df(spark, n=40)
    pts = df.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("v"))
    assigned = assign_clusters(pts, [[0.0] * 8, [1.0] * 8])
    agg = (
        assigned.select("cluster_id", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(F.avg("val").alias("m"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange hashpartitioning(cluster_id" in plan, plan


def test_semdedup_consistency(spark):
    """Every dup points at a lower-id vector in the SAME cluster with
    cosine >= threshold; kept vectors have no lower-id near-dup."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    out = E.queries()["semdedup"](spark, "/root/testdata/sf0.001").collect()
    by_id = {r.vec_id: r for r in out}
    dups = [r for r in out if r.kept == 0]
    assert dups, "threshold should mark at least one near-dup on testdata"
    for r in dups:
        assert r.dup_of < r.vec_id
        assert by_id[r.dup_of].cluster_id == r.cluster_id
    for r in out:
        assert (r.kept == 1) == (r.dup_of == -1)
