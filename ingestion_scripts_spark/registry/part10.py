"""Registry implementation, part 10 — r10 additions: exact distributed
Gini concentration + trimmed/winsorized robust means (global_rank
consumers #4/#5), the Poisson bootstrap CI (the distributed-uncertainty
primitive), a shuffle-interleave quality audit (distributed lag, no
unpartitioned window), and global graph transitivity."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.functions import text as X
from ingestion_scripts_spark.registry.part09 import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# exact corpus Gini (distributed rank)
# ---------------------------------------------------------------------------

def q_gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration of order value in cents — the standard
    inequality index over the corpus ("is revenue spread or winner-take-
    all?"), via the distributed rank (operators/ranking.py::
    gini_coefficient, global_rank consumer #4): one range shuffle, sums
    in DECIMAL(38,0), one terminal exact div — never a single-partition
    sort, never a float accumulation.

    NOT a duplicate of ``gini_concentration`` (part08): that one is
    PER-NATION Gini over a keyed window whose partitions are bounded by
    per-nation customer counts; this is the CORPUS-GLOBAL number that
    keyed form cannot produce without the gate-banned unpartitioned
    window — the same keyed-vs-global split as robust_zscore vs
    mad_order_values and value_percentiles vs exact_global_quantiles."""
    from ingestion_scripts_spark.operators.ranking import gini_coefficient

    orders = _t(spark, sf_dir, "orders").select(  # noqa: F405
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    return gini_coefficient(orders, "cents", ["o_orderkey"])


SQL_GINI_ORDER_VALUES = """
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         o_orderkey
  FROM orders),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rn
  FROM base)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total,
       CAST(((2 * sum(rn * cents) - (count(*) + 1) * sum(cents)) * 1000000)
            // (count(*) * sum(cents)) AS BIGINT) AS gini_ppm
FROM ranked"""


# ---------------------------------------------------------------------------
# exact trimmed / winsorized mean (distributed rank)
# ---------------------------------------------------------------------------

def q_trimmed_price_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency of lineitem extended price: the exact 1%
    two-sided trimmed mean and its winsorized companion (operators/
    ranking.py::trimmed_mean, global_rank consumer #5) — the
    outlier-insensitive number a data-quality report puts next to the
    plain mean. One range shuffle; cuts, tails and sums all come off the
    rank's checkpoint."""
    from ingestion_scripts_spark.operators.ranking import trimmed_mean

    li = _t(spark, sf_dir, "lineitem").select(  # noqa: F405
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return trimmed_mean(
        li, "cents", ["l_orderkey", "l_linenumber"], trim_num=1, trim_den=100
    )


SQL_TRIMMED_PRICE_MEAN = """
WITH base AS (
  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
              AS BIGINT) AS rn
  FROM base),
nk AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) // 100 AS BIGINT) AS k
  FROM ranked),
cuts AS (
  SELECT CAST(min(cents) AS BIGINT) AS lo_cut,
         CAST(max(cents) AS BIGINT) AS hi_cut
  FROM ranked, nk WHERE rn = k + 1 OR rn = n - k),
body AS (
  SELECT sum(cents) AS s FROM ranked, nk WHERE rn > k AND rn <= n - k)
SELECT n, k AS k_trim, lo_cut, hi_cut,
       CAST((s * 1000000) // (n - 2 * k) AS BIGINT) AS trimmed_mean_micro,
       CAST(((s + k * (lo_cut + hi_cut)) * 1000000) // n AS BIGINT)
         AS winsor_mean_micro
FROM nk, cuts, body"""


# ---------------------------------------------------------------------------
# Poisson bootstrap CI (distributed uncertainty)
# ---------------------------------------------------------------------------

def q_bootstrap_order_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for the mean order value in cents
    (operators/bootstrap.py) — THE distributed bootstrap: per-(row,
    replicate) Poisson(1) weights from the portable md5 hash, replicate
    means exact micro integers, CI = ceil-rank order statistics of the
    32 means. Every stage partial-aggregates; both engines draw the
    identical weights, so the twin is bit-exact. The kernel costs B md5s
    per input row, so the single-row-group testdata scan is spread to cores
    first (measured 38 s → ~1 s at sf0.1); a production-size input splits
    past core count and gets no exchange."""
    from ingestion_scripts_spark.operators.bootstrap import poisson_bootstrap_ci
    from ingestion_scripts_spark.sources.readers import spread

    orders = _t(spark, sf_dir, "orders").select(  # noqa: F405
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    return poisson_bootstrap_ci(spread(orders), "cents", "o_orderkey", b_replicates=32)


def _sql_bootstrap_order_value_ci(b: int = 32) -> str:
    from ingestion_scripts_spark.operators.bootstrap import POISSON1_CDF_MICRO

    u = O.sql_hash64(
        "(CAST(id AS VARCHAR) || ':' || CAST(b AS VARCHAR))"
    ) + " % 1000000"
    w = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in POISSON1_CDF_MICRO
    )
    return f"""
WITH base AS (
  SELECT o_orderkey AS id,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x
  FROM orders),
grid AS (SELECT unnest(range(0, {b})) AS b),
draws AS (
  SELECT b, x, ({w}) AS w
  FROM (SELECT base.x, grid.b, {u} AS u FROM base CROSS JOIN grid)),
means AS (
  SELECT b, CAST((sum(w * x) * 1000000) // sum(w) AS BIGINT) AS m
  FROM draws WHERE w > 0 GROUP BY b),
ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means),
ci AS (
  SELECT CAST(min(CASE WHEN r = 1 THEN m END) AS BIGINT) AS ci_lo_micro,
         CAST(min(CASE WHEN r = {b} THEN m END) AS BIGINT) AS ci_hi_micro
  FROM ranked WHERE r IN (1, {b})),
point AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST((sum(x) * 1000000) // count(*) AS BIGINT) AS mean_micro
  FROM base)
SELECT n, CAST({b} AS BIGINT) AS b_replicates, mean_micro,
       ci_lo_micro, ci_hi_micro
FROM point, ci"""


# ---------------------------------------------------------------------------
# shuffle-interleave quality audit (distributed lag)
# ---------------------------------------------------------------------------

def q_shuffle_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing quality of the deterministic hash-shuffle order over the
    document corpus: per source, how many maximal same-source runs does
    the order contain, and how long are they on average? (operators/
    ranking.py::interleave_audit — the distributed global lag: rank via
    global_rank, previous row via a self-equi-join on rn, never an
    unpartitioned window.) A healthy shuffle reads mean_run_micro ≈ 1e6
    per source; a sorted-by-source corpus reads n_runs = 1 — the
    curriculum accident this audit exists to catch before training."""
    from ingestion_scripts_spark.operators.ranking import interleave_audit

    docs = _t(spark, sf_dir, "documents").select(  # noqa: F405
        "source",
        X.hash64(F.col("doc_id").cast("string")).alias("hk"),
        "doc_id",
    )
    return interleave_audit(docs, "source", [F.asc("hk"), F.asc("doc_id")])


def _sql_shuffle_mix_audit() -> str:
    hk = O.sql_hash64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH base AS (SELECT source, {hk} AS hk, doc_id FROM documents),
lagged AS (
  SELECT source, lag(source) OVER (ORDER BY hk, doc_id) AS prev FROM base)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN prev IS NULL OR prev <> source THEN 1 ELSE 0 END)
            AS BIGINT) AS n_runs,
       CAST((count(*) * 1000000)
            // sum(CASE WHEN prev IS NULL OR prev <> source THEN 1 ELSE 0 END)
            AS BIGINT) AS mean_run_micro,
       CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END) AS BIGINT)
         AS adj_same
FROM lagged GROUP BY source ORDER BY source"""


# ---------------------------------------------------------------------------
# global transitivity of the co-order graph
# ---------------------------------------------------------------------------

def q_coorder_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (3·triangles / wedges) of the part
    co-order graph — the one-number "clique-ish or star-ish?" readout on
    the SAME edge set as triangle_cooccurrence / community_modularity
    (operators/graph.py::transitivity): degree-oriented wedge join
    (O(m^1.5), hub-safe), DECIMAL(38,0) wedge sums, one terminal exact
    div."""
    from ingestion_scripts_spark.operators import graph as G

    edges = _coorder_edges(spark, sf_dir).select("a", "b")
    return G.transitivity(edges, "a", "b")


SQL_COORDER_TRANSITIVITY = """
WITH bsk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
e AS (
  SELECT x.it AS a, y.it AS b
  FROM bsk x JOIN bsk y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2),
deg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) GROUP BY 1),
tri AS (
  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
  FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
per_node AS (
  SELECT node, count(*)::BIGINT AS triangles FROM (
    SELECT n1 AS node FROM tri UNION ALL SELECT n2 FROM tri
    UNION ALL SELECT n3 FROM tri) GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(coalesce(t.triangles, 0)) // 3 AS BIGINT) AS n_triangles,
       CAST(sum(d.degree * (d.degree - 1)) // 2 AS BIGINT) AS n_wedges,
       CAST(CASE WHEN sum(d.degree * (d.degree - 1)) = 0 THEN NULL
            ELSE (sum(coalesce(t.triangles, 0)) * 1000000)
                 // (sum(d.degree * (d.degree - 1)) // 2) END AS BIGINT)
         AS transitivity_ppm
FROM deg d LEFT JOIN per_node t USING (node)"""


# ---------------------------------------------------------------------------
# exact corpus median / MAD / robust outlier count (chained global ranks)
# ---------------------------------------------------------------------------

def q_mad_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level median, MAD and robust-outlier count of order
    value in cents (operators/ranking.py::global_median_mad) — the
    GLOBAL twin of the per-key robust z-score, and the engine's first
    CHAINED global order statistic: the second distributed rank runs on
    a column derived from the first's broadcast result
    (dev = |cents − median|). Outlier gate 10000·dev > 44478·mad is an
    exact integer comparison. Two range shuffles, two broadcast probes,
    one terminal aggregate — no single-partition stage."""
    from ingestion_scripts_spark.operators.ranking import global_median_mad

    orders = _t(spark, sf_dir, "orders").select(  # noqa: F405
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    return global_median_mad(orders, "cents", ["o_orderkey"])


SQL_MAD_ORDER_VALUES = """
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         o_orderkey
  FROM orders),
v AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM base),
med AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med FROM v),
dev AS (
  SELECT abs(base.cents - med.med) AS dev, base.o_orderkey, med.med
  FROM base, med),
d AS (
  SELECT dev, med,
         row_number() OVER (ORDER BY dev, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM dev),
mad AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad FROM d)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(max(dev.med) AS BIGINT) AS median,
       CAST(max(mad.mad) AS BIGINT) AS mad,
       CAST(sum(CASE WHEN dev.dev * 10000 > mad.mad * 44478
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev, mad"""


__all__ = [n for n in globals() if not n.startswith("__")]
