"""Generation-bounded checkpoint accounting (VERDICT r10 item 5): the r10
regression pinned the END-state persistent-RDD count; this pins the PEAK
during the run — a sampler thread watches the BlockManager while the
rounds iterate, so a one-per-round leak is caught even if a final
cleanup masks it. Every iterative kernel runs through
``caching.fixpoint``, which releases each generation once the next is
materialized; the sampler runs over all of them. The 64M-edge /
8 GiB-heap field version of the star-CC assertion is
tools/deep_cc_probe.py (result recorded in SCALING.md)."""

import threading
import time

import pytest
from pyspark.sql import functions as F


def _peak_new_persistent_rdds(spark, run) -> int:
    """Run ``run()`` while sampling the persistent-RDD count; returns the
    peak number of persistent RDDs above the count at the start."""
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    peak = [baseline]
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            peak[0] = max(peak[0], jsc.getPersistentRDDs().size())
            time.sleep(0.01)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        run()
    finally:
        stop.set()
        t.join(timeout=2)
    return peak[0] - baseline


def test_cc_star_peak_checkpoints_generation_bounded(spark):
    from ingestion_scripts_spark.operators.dedup import connected_components_star

    # chain of 3000 -> 12 changing alternating-star rounds + 1 observing
    edges = spark.range(3000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )

    def run():
        out = connected_components_star(edges, max_iter=20)
        assert out.select(F.countDistinct("comp")).collect()[0][0] == 1

    peak = _peak_new_persistent_rdds(spark, run)
    # generation-lag bound: input edges + all_nodes + current round +
    # next round mid-swap — NEVER one per round
    assert peak <= 4, peak


def _path(spark, n, a="a", b="b"):
    return spark.range(n - 1).select(
        F.col("id").alias(a), (F.col("id") + 1).alias(b)
    )


def _run_cc(spark):
    from ingestion_scripts_spark.operators.dedup import connected_components

    # diameter 11: 11 changing label rounds + 1 observing
    out = connected_components(_path(spark, 12, "id_a", "id_b"), max_iter=20)
    assert out.select(F.countDistinct("comp")).first()[0] == 1


def _run_bfs(spark):
    from ingestion_scripts_spark.operators.graph import bfs_hops

    seeds = spark.range(1).select(F.col("id").alias("node"))
    out = bfs_hops(_path(spark, 16), seeds, max_hops=12)
    assert out.agg(F.max("hops")).first()[0] == 12


def _run_kcore(spark):
    from ingestion_scripts_spark.operators.graph import kcore_peel

    # a path peels its two endpoints per round: 21 nodes -> 11 rounds
    assert kcore_peel(_path(spark, 21), "a", "b", k=2, rounds=12).count() == 0


def _run_hits(spark):
    from ingestion_scripts_spark.operators.graph import hits_int

    edges = _path(spark, 10, "src", "dst").withColumn("w", F.lit(1))
    assert hits_int(edges, "src", "dst", "w", iters=8).count() == 10


def _run_kcenter(spark):
    from ingestion_scripts_spark.operators.clustering import kcenter_greedy

    pts = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), (F.col("id") % 7).cast("double"))
        .alias("embedding"),
    )
    assert len(kcenter_greedy(pts, "embedding", "vec_id", k=10).collect()) == 10


def _run_max_coverage(spark):
    from ingestion_scripts_spark.operators.text_analysis import max_coverage_select

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.array(
            F.col("id").cast("string"), (F.col("id") % 5).cast("string")
        ).alias("t"),
    )
    assert len(max_coverage_select(docs, "doc_id", "t", k=10).collect()) == 10


@pytest.mark.parametrize(
    "run",
    [_run_cc, _run_bfs, _run_kcore, _run_hits, _run_kcenter, _run_max_coverage],
    ids=["connected_components", "bfs_hops", "kcore_peel", "hits_int",
         "kcenter_greedy", "max_coverage_select"],
)
def test_kernel_peak_checkpoints_generation_bounded(spark, run):
    # each kernel runs 8-12 rounds; its peak is the checkpoints it builds
    # before the loop plus two generations mid-swap, so one leaked
    # generation per round would blow far past the bound
    peak = _peak_new_persistent_rdds(spark, lambda: run(spark))
    assert peak <= 4, peak
