"""Registry implementation, part 09 — r9 additions: exact distributed
order statistics + Pareto top-share curve (global_rank consumers #2/#3),
Mann-Kendall trend test, degree assortativity, functional-dependency
strength, exact weighted medians, market concentration (HHI/CR4),
seasonal-naive MASE, largest-remainder budget apportionment, and Chao1
vocabulary richness."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.functions import text as X
from ingestion_scripts_spark.registry.part08 import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# exact global order statistics (distributed rank, never a global sort)
# ---------------------------------------------------------------------------

_QUANTS = [(1, 100), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]


def q_exact_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus quantiles (P1/P25/P50/P75/P90/P99) of lineitem
    extended price in cents — audit-grade order statistics over the
    biggest fact table via ``operators/ranking.py::global_rank`` (range
    partition + parallel per-slice sort + broadcast offsets): the
    distributed-rank primitive's second consumer after decile_lift, with
    NO single-partition sort and no approx_percentile error bound.
    Ceil-rank (type-1) quantiles, (value, l_orderkey, l_linenumber)
    total order, all-integer output."""
    from ingestion_scripts_spark.operators.ranking import order_statistics

    li = _t(spark, sf_dir, "lineitem").select(  # noqa: F405
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("v_cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return order_statistics(
        li, "v_cents", ["l_orderkey", "l_linenumber"], _QUANTS
    )


_SQL_QUANT_VALUES = ", ".join(f"({qn}, {qd})" for qn, qd in _QUANTS)

SQL_EXACT_GLOBAL_QUANTILES = f"""
WITH base AS (
  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v_cents,
         l_orderkey, l_linenumber
  FROM lineitem),
ranked AS (
  SELECT v_cents,
         CAST(row_number() OVER (ORDER BY v_cents, l_orderkey, l_linenumber)
              AS BIGINT) AS rn
  FROM base),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
qs(q_num, q_den) AS (VALUES {_SQL_QUANT_VALUES}),
ranks AS (
  SELECT CAST(q_num AS BIGINT) AS q_num, CAST(q_den AS BIGINT) AS q_den,
         CAST(greatest(1, (q_num * tot.n + q_den - 1) // q_den) AS BIGINT)
           AS r
  FROM qs, tot)
SELECT q_num, q_den, r, v_cents AS value
FROM ranked JOIN ranks ON ranked.rn = ranks.r
ORDER BY q_num, q_den"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on the daily order-count series
# ---------------------------------------------------------------------------

def q_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (S statistic, tie-corrected 18·Var[S],
    z_micro) over the DAILY ORDER COUNT series — the non-parametric "is
    ingest volume drifting?" monitor, rank-based companion to
    theil_sen_trend. Count series at daily grain → heavy value ties, so
    the tie-correction term is genuinely exercised. The i<j pair join is
    days², constant in corpus size (the acf_daily precedent);
    operators/profiling.py::mann_kendall."""
    from ingestion_scripts_spark.operators import profiling as PR

    daily = (
        _t(spark, sf_dir, "orders")  # noqa: F405
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    return PR.mann_kendall(daily, "day", "n_orders")


SQL_MANN_KENDALL_DAILY = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1),
s AS (
  SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b ON a.day < b.day),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(coalesce(sum(tn * (tn - 1) * (2 * tn + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS tn FROM daily GROUP BY v)),
base AS (
  SELECT n1.n AS n_points, s.s_stat,
         CAST(n1.n * (n1.n - 1) * (2 * n1.n + 5) - ties.tie_term AS BIGINT)
           AS var18
  FROM n1, s, ties)
SELECT n_points, s_stat, var18,
       CASE WHEN var18 <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
              (CASE WHEN s_stat > 0 THEN s_stat - 1
                    WHEN s_stat < 0 THEN s_stat + 1
                    ELSE 0 END)::DOUBLE
              / sqrt(var18::DOUBLE / 18.0) * 1000000.0 + 0.5) AS BIGINT)
       END AS z_micro
FROM base"""


# ---------------------------------------------------------------------------
# degree assortativity of the part co-order graph
# ---------------------------------------------------------------------------

def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity r of the part co-order graph (same >= 2
    co-orders edge set as triangle_cooccurrence / link_prediction) —
    hub-to-hub vs hub-to-leaf mixing, the one-number probe that says
    whether the hub-capped wedge join's degree guard is load-bearing on
    this corpus (operators/graph.py::degree_assortativity: exact BIGINT
    moments over the symmetrized edge list, one terminal divide)."""
    from ingestion_scripts_spark.operators import graph as G

    edges = _coorder_edges(spark, sf_dir).select("a", "b")
    return G.degree_assortativity(edges, "a", "b")


SQL_DEGREE_ASSORTATIVITY = """
WITH bsk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
e AS (
  SELECT x.it AS a, y.it AS b
  FROM bsk x JOIN bsk y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2),
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
flat AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM sym JOIN deg du ON sym.u = du.u JOIN deg dv ON sym.v = dv.u),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM flat)
SELECT m2, sx, sxx, sxy,
       CASE WHEN m2 * sxx - sx * sx > 0
            THEN CAST(floor(
              (m2 * sxy - sx * sx)::DOUBLE / (m2 * sxx - sx * sx)::DOUBLE
              * 1000000.0 + 0.5) AS BIGINT)
       END AS r_micro
FROM mo"""


# ---------------------------------------------------------------------------
# functional-dependency strength profile
# ---------------------------------------------------------------------------

_FD_PAIRS = [("source", "lang"), ("lang", "source")]


def q_fd_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency profile over the documents
    table (source -> lang and lang -> source): TANE's g3 error computed
    exactly — violations = rows that must be removed for the FD to
    hold, strength_ppm = kept-fraction in parts-per-million
    (operators/dq.py::fd_strength: two cascaded map-side-combinable
    aggregates per pair, one report row each)."""
    from ingestion_scripts_spark.operators.dq import fd_strength

    docs = _t(spark, sf_dir, "documents")  # noqa: F405
    return fd_strength(docs, _FD_PAIRS)


def _sql_fd_pair(det: str, dep: str) -> str:
    return f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n_k) AS BIGINT) AS n_rows,
       CAST(sum(n_k) - sum(keep_max) AS BIGINT) AS violations,
       CAST(max(n_dep_values) AS BIGINT) AS max_dep_values,
       CAST((sum(keep_max) * 1000000) // sum(n_k) AS BIGINT) AS strength_ppm
FROM (
  SELECT k, max(n) AS keep_max, sum(n) AS n_k,
         CAST(count(*) AS BIGINT) AS n_dep_values
  FROM (SELECT {det} AS k, {dep} AS d, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2)
  GROUP BY k)"""


SQL_FD_STRENGTH = " UNION ALL ".join(
    _sql_fd_pair(det, dep) for det, dep in _FD_PAIRS
)

# ---------------------------------------------------------------------------
# top-fraction concentration curve (global_rank consumer #3)
# ---------------------------------------------------------------------------

_FRACTIONS = [(1, 1000), (1, 100), (1, 10), (1, 4)]


def q_top_share_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of order value: the exact revenue share
    (ppm) carried by the top 0.1% / 1% / 10% / 25% of orders by total
    price — distributed rank (operators/ranking.py::top_share_curve,
    the global_rank primitive's third consumer), exact integer shares,
    no single-partition sort."""
    from ingestion_scripts_spark.operators.ranking import top_share_curve

    orders = _t(spark, sf_dir, "orders").select(  # noqa: F405
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    return top_share_curve(orders, "cents", ["o_orderkey"], _FRACTIONS)


_SQL_FRACTION_VALUES = ", ".join(f"({fn}, {fd})" for fn, fd in _FRACTIONS)

SQL_TOP_SHARE_CURVE = f"""
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         o_orderkey
  FROM orders),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents DESC, o_orderkey)
              AS BIGINT) AS rn
  FROM base),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS total_value
        FROM base),
fs(f_num, f_den) AS (VALUES {_SQL_FRACTION_VALUES}),
ks AS (
  SELECT CAST(f_num AS BIGINT) AS f_num, CAST(f_den AS BIGINT) AS f_den,
         CAST(greatest(1, (f_num * tot.n) // f_den) AS BIGINT) AS k,
         tot.total_value
  FROM fs, tot)
SELECT f_num, f_den, k,
       CAST(sum(cents) AS BIGINT) AS top_value,
       total_value,
       CAST((sum(cents) * 1000000) // total_value AS BIGINT) AS share_ppm
FROM ranked JOIN ks ON ranked.rn <= ks.k
GROUP BY f_num, f_den, k, total_value
ORDER BY f_num, f_den"""


# ---------------------------------------------------------------------------
# exact weighted median per part
# ---------------------------------------------------------------------------

def q_weighted_median_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median order quantity per part — "at what
    quantity does half this part's revenue sit?" (inventory-weighting
    the typical basket size; operators/profiling.py::
    weighted_median_by_key). Exact: integer 2·cum ≥ W crossing on cents
    weights; one partitioned window over the high-cardinality part key
    — uniform parallelism at any corpus size."""
    from ingestion_scripts_spark.operators import profiling as PR

    li = _t(spark, sf_dir, "lineitem").select(  # noqa: F405
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return PR.weighted_median_by_key(
        li, "l_partkey", "qty", "cents", ["l_orderkey", "l_linenumber"]
    ).select(
        F.col("k").alias("l_partkey"), "w_total", "median_v"
    )


SQL_WEIGHTED_MEDIAN_PARTS = """
WITH base AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS v,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS wgt,
         l_orderkey, l_linenumber
  FROM lineitem),
scored AS (
  SELECT l_partkey, v,
         CAST(sum(wgt) OVER (PARTITION BY l_partkey
              ORDER BY v, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(sum(wgt) OVER (PARTITION BY l_partkey) AS BIGINT) AS w_total
  FROM base)
SELECT l_partkey, CAST(max(w_total) AS BIGINT) AS w_total,
       CAST(min(v) AS BIGINT) AS median_v
FROM scored WHERE 2 * cum >= w_total
GROUP BY l_partkey ORDER BY l_partkey"""


# ---------------------------------------------------------------------------
# per-nation supplier market concentration (HHI + CR4)
# ---------------------------------------------------------------------------

def q_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: exact HHI and CR4 of lineitem
    revenue shares (operators/profiling.py::market_concentration) — the
    "is this market/corpus dominated by a few sellers/sources?" audit.
    Revenue is summed EXACTLY in cents per (nation, supplier), then
    truncated to k$ units (div 100000) so Σr²·1e6 stays far inside
    BIGINT at any plausible SF; shares are single truncating integer
    divisions. The ranking window runs on the post-aggregate
    (nation, supplier) frame — dim-sized, bounded."""
    from ingestion_scripts_spark.operators import profiling as PR

    li = _t(spark, sf_dir, "lineitem").select(  # noqa: F405
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")  # noqa: F405
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")  # noqa: F405
    joined = li.join(
        F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]
    ).join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
    return PR.market_concentration(
        joined, "n_name", "s_suppkey", F.expr("sum(cents) div 100000"), top_k=4
    )


SQL_MARKET_CONCENTRATION = """
WITH per_seller AS (
  SELECT n_name AS mkt, s_suppkey AS seller,
         CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
              // 100000 AS BIGINT) AS r
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT mkt, r,
         row_number() OVER (PARTITION BY mkt ORDER BY r DESC, seller) AS pos
  FROM per_seller)
SELECT mkt AS market,
       CAST(count(*) AS BIGINT) AS n_sellers,
       CAST(sum(r) AS BIGINT) AS r_total,
       CAST((sum(r * r) * 1000000) // (sum(r) * sum(r)) AS BIGINT) AS hhi_ppm,
       CAST((sum(CASE WHEN pos <= 4 THEN r ELSE 0 END) * 1000000) // sum(r)
            AS BIGINT) AS cr_ppm
FROM ranked GROUP BY mkt ORDER BY market"""

# ---------------------------------------------------------------------------
# seasonal-naive MASE backtest on daily revenue
# ---------------------------------------------------------------------------

def q_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (season=7) MASE backtest over the daily order
    revenue series — "is there weekly structure worth modeling?"
    (mase_micro < 1e6 ⟺ last-week's-value beats yesterday's-value):
    operators/profiling.py::seasonal_naive_mase, row lags on the
    bounded post-agg daily frame, exact BIGINT error sums, one
    truncating terminal division."""
    from ingestion_scripts_spark.operators import profiling as PR

    daily = (
        _t(spark, sf_dir, "orders")  # noqa: F405
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    return PR.seasonal_naive_mase(daily, "day", "cents", season=7)


SQL_FORECAST_MASE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY 1),
lagged AS (
  SELECT v,
         lag(v, 1) OVER (ORDER BY day) AS v1,
         lag(v, 7) OVER (ORDER BY day) AS vs
  FROM daily),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(abs(v - v1)) AS BIGINT) AS sum_abs_e1,
         CAST(sum(abs(v - vs)) AS BIGINT) AS sum_abs_es
  FROM lagged)
SELECT n_points, sum_abs_e1, sum_abs_es,
       CASE WHEN n_points > 7 AND sum_abs_e1 > 0
            THEN CAST((((sum_abs_es * 1000000) // sum_abs_e1)
                       * (n_points - 1)) // (n_points - 7) AS BIGINT)
       END AS mase_micro
FROM agg"""




# ---------------------------------------------------------------------------
# largest-remainder sample-budget apportionment across sources
# ---------------------------------------------------------------------------

def q_sample_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment of a 10,000-example
    sample budget across document sources proportional to their doc
    counts — the exact quota allocator for balanced eval/seed sets
    (operators/ranking.py::largest_remainder_apportionment): every
    source gets floor-or-ceil of its exact share and Σ alloc == budget
    ALWAYS (law-tested); pure BIGINT arithmetic."""
    from ingestion_scripts_spark.operators.ranking import (
        largest_remainder_apportionment,
    )

    docs = _t(spark, sf_dir, "documents")  # noqa: F405
    return largest_remainder_apportionment(docs, "source", 10_000)


SQL_SAMPLE_APPORTIONMENT = """
WITH per AS (
  SELECT source AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM per),
scored AS (
  SELECT k, cnt,
         CAST((cnt * 10000) // tot.n_total AS BIGINT) AS base_alloc,
         CAST((cnt * 10000) % tot.n_total AS BIGINT) AS rem
  FROM per, tot),
leftover AS (
  SELECT CAST(10000 - sum(base_alloc) AS BIGINT) AS r_left FROM scored),
ranked AS (
  SELECT k, cnt, base_alloc,
         CAST(row_number() OVER (ORDER BY rem DESC, k ASC) AS BIGINT) AS pos
  FROM scored)
SELECT k AS source, cnt, base_alloc,
       CAST(CASE WHEN pos <= leftover.r_left THEN 1 ELSE 0 END AS BIGINT)
         AS extra,
       CAST(base_alloc + CASE WHEN pos <= leftover.r_left THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked, leftover ORDER BY source"""

# ---------------------------------------------------------------------------
# Chao1 / Good-Turing vocabulary richness
# ---------------------------------------------------------------------------

def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate + Good-Turing seen-mass coverage
    of the document corpus (lower-cased whitespace tokens, the
    vocab_topn tokenization) — "how much new vocabulary would more of
    this data add?" (operators/text_analysis.py::species_richness):
    exact BIGINT frequency-of-frequencies, two truncating terminal
    divisions."""
    from ingestion_scripts_spark.operators import text_analysis as TA2

    docs = _t(spark, sf_dir, "documents").select(  # noqa: F405
        X.tokenize_ws(F.lower(F.col("text"))).alias("toks")  # noqa: F405
    )
    return TA2.species_richness(docs, "toks")


def _sql_vocab_richness() -> str:
    toks = O.sql_tokenize_ws("lower(text)")  # noqa: F405
    return f"""
WITH terms AS (
  SELECT unnest({toks}) AS term FROM documents),
tf AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM terms GROUP BY term),
fof AS (SELECT c, CAST(count(*) AS BIGINT) AS types FROM tf GROUP BY c),
agg AS (
  SELECT CAST(sum(types) AS BIGINT) AS v_obs,
         CAST(sum(c * types) AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(CASE WHEN c = 1 THEN types END), 0) AS BIGINT)
           AS f1,
         CAST(coalesce(sum(CASE WHEN c = 2 THEN types END), 0) AS BIGINT)
           AS f2
  FROM fof)
SELECT v_obs, n_tokens, f1, f2,
       CASE WHEN f2 > 0
            THEN CAST(v_obs + (f1 * f1) // (2 * f2) AS BIGINT)
       END AS chao1_est,
       CAST(1000000 - (f1 * 1000000) // n_tokens AS BIGINT) AS coverage_ppm
FROM agg"""


__all__ = [n for n in globals() if not n.startswith("__")]
