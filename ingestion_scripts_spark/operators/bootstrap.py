"""Distributed Poisson bootstrap — uncertainty for corpus-scale means
without resampling rows.

The classic bootstrap (sample n rows WITH replacement, B times) is
undistributable: every replicate needs a global sample. The Poisson
bootstrap (Hanley & MacGibbon 2006; the standard large-scale variant,
e.g. Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
Google TR 2012) replaces multinomial row counts with independent
Poisson(1) weights per (row, replicate): each row carries its own B
weights, every stage is a plain map + partial-aggregable groupBy(b), and
the result converges to the classic bootstrap as n grows.

Determinism/cross-engine: the per-(row, replicate) uniform comes from
the portable 60-bit md5 hash (``functions.text.hash64`` ==
``oracle.sql_hash64``) mod 1e6, mapped through the FROZEN Poisson(1)
inverse-CDF thresholds below — both engines draw the identical weights,
so the DuckDB twin reproduces the replicate means bit-for-bit. (A
production run would swap the md5 for xxhash/rand-per-task; md5 is the
cross-engine-verifiability cost, same trade as MinHash/SimHash here.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ingestion_scripts_spark.functions.text import hash64, let_

#: floor(CDF_{Poisson(1)}(k) * 1e6) for k = 0..6 — weights truncate at 7
#: (P(X >= 8) < 1e-6, below the micro-uniform's resolution anyway).
POISSON1_CDF_MICRO = [367879, 735758, 919698, 981011, 996340, 999405, 999916]


def _weight(u: Column) -> Column:
    """Poisson(1) inverse-CDF on a micro-uniform u in [0, 1e6).

    The 7 threshold comparisons are bound through ``let_`` so the hash
    expression behind ``u`` evaluates ONCE per row — CollapseProject
    re-inlines a plain aliased projection into every comparison, which
    measured 7× the md5 cost (33 s → 5 s single-task at sf0.1×32
    replicates before the fix)."""

    def body(x: Column) -> Column:
        w = F.lit(0)
        for t in POISSON1_CDF_MICRO:
            w = w + (x >= F.lit(t)).cast("int")
        return w

    return let_(u, body)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b_replicates: int = 32,
    lo_num: int = 25,
    lo_den: int = 1000,
    hi_num: int = 975,
    hi_den: int = 1000,
) -> DataFrame:
    """Bootstrap CI for the mean of an integer column over the corpus.

    Shape: one projected pass emits (replicate, weight, value) triples —
    the B× explode is transient inside the map task because groupBy(b)
    partial-aggregates each task down to ≤B rows before the exchange
    (zero-weight draws are dropped pre-shuffle, ~37% of them). Replicate
    means are exact micro integers ((Σ w·x)·1e6 div Σw, DECIMAL(38,0)
    sums); the CI picks the ceil-rank order statistics of the B means
    via a BOUNDED unpartitioned window (≤B post-aggregate rows, the
    gate-legal class). Returns one row:
    (n, b_replicates, mean_micro, ci_lo_micro, ci_hi_micro).

    The hash/weight kernel costs B md5s per input row, so its parallelism
    is the INPUT's: spread an under-split input first
    (``sources.readers.spread``).
    """
    clash = {"b", "__x", "__w"}.intersection([id_col, value_col])
    if clash:
        raise ValueError(
            f"poisson_bootstrap_ci reserved column names in input: {sorted(clash)}"
        )
    b = int(b_replicates)
    u = hash64(
        F.concat(
            F.col(id_col).cast("string"), F.lit(":"), F.col("b").cast("string")
        )
    ) % F.lit(1_000_000)
    draws = (
        df.select(
            F.col(id_col),
            F.col(value_col).cast("decimal(19,0)").alias("__x"),
            F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("b"),
        )
        .select("b", "__x", _weight(u).cast("decimal(19,0)").alias("__w"))
        .filter(F.col("__w") > 0)
    )
    means = draws.groupBy("b").agg(
        F.expr(
            "(CAST(sum(__w * __x) AS DECIMAL(38,0)) * 1000000)"
            " div CAST(sum(__w) AS DECIMAL(38,0))"
        )
        .cast("bigint")
        .alias("__m")
    )
    # ceil-rank order statistics of the B replicate means (bounded window)
    w_ord = Window.orderBy(F.asc("__m"), F.asc("b"))
    lo_r = max(1, -(-lo_num * b // lo_den))
    hi_r = max(1, -(-hi_num * b // hi_den))
    picks = (
        means.withColumn("__r", F.row_number().over(w_ord))
        .filter(F.col("__r").isin(lo_r, hi_r))
        .agg(
            F.min(F.when(F.col("__r") == lo_r, F.col("__m")))
            .cast("bigint")
            .alias("ci_lo_micro"),
            F.min(F.when(F.col("__r") == hi_r, F.col("__m")))
            .cast("bigint")
            .alias("ci_hi_micro"),
        )
    )
    point = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            f"(CAST(sum(CAST({value_col} AS DECIMAL(19,0))) AS DECIMAL(38,0))"
            f" * 1000000) div count(1)"
        )
        .cast("bigint")
        .alias("mean_micro"),
    )
    return point.crossJoin(F.broadcast(picks)).select(
        "n",
        F.lit(b).cast("bigint").alias("b_replicates"),
        "mean_micro",
        "ci_lo_micro",
        "ci_hi_micro",
    )
