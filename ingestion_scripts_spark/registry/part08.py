"""Registry implementation, part 08 — r7 additions: KMV distinct sketch,
Wasserstein drift, Kendall tau-b, MRR, link prediction, exact ACF,
l-diversity, and multimodal aHash near-dup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.caching import persist_tracked
from ingestion_scripts_spark.functions import text as X
from ingestion_scripts_spark.operators import similarity as SIM
from ingestion_scripts_spark.registry.part07 import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch + merge
# ---------------------------------------------------------------------------

def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type distinct-user estimates from KMV bottom-64 sketches
    (operators/sketches.py::kmv_sketch) PLUS a '__all__' row whose sketch
    is built by MERGING the per-group sketches (bottom-64 of their union)
    — never rescanning the data, the property that lets a sketch
    warehouse serve any rollup. Groups with < k distinct users report the
    EXACT count (est = m, kth_hash NULL); estimator arithmetic is one
    float divide over exactly-representable operands."""
    from ingestion_scripts_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    sk = SK.kmv_sketch(ev, "event_type", F.col("user_id").cast("string"), k=64)
    sk = persist_tracked(sk)  # consumed twice: per-group rows + the merge
    w = Window.orderBy("h")
    merged = (
        sk.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .select(F.lit("__all__").alias("g"), "h")
    )
    out = SK.kmv_estimate(sk.unionByName(merged), k=64)
    return out.orderBy("g")


def _sql_kmv_distinct() -> str:
    from ingestion_scripts_spark.operators.sketches import (
        sql_kmv_estimate,
        sql_kmv_sketch,
    )

    sk = sql_kmv_sketch("events", "event_type", "CAST(user_id AS VARCHAR)", 64)
    est = sql_kmv_estimate("u", 64)
    return f"""
WITH sk AS ({sk}),
merged AS (
  SELECT '__all__' AS g, h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk))
  WHERE rn <= 64),
u AS (SELECT * FROM sk UNION ALL SELECT * FROM merged)
{est}
ORDER BY g"""


# ---------------------------------------------------------------------------
# Wasserstein-1 drift
# ---------------------------------------------------------------------------

def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type Wasserstein-1 distance between the even- and
    odd-event_id halves of the value distribution — the magnitude-aware
    companion to ks_drift over the IDENTICAL slices (KS: worst single CDF
    gap; W1: integrated |F_A - F_B|, which a small-everywhere rescale
    moves even when the max gap barely changes). Exact BIGINT numerator
    (cross-multiplied CDWs x support gaps), one divide at the end
    (operators/profiling.py::wasserstein_1d)."""
    from ingestion_scripts_spark.operators import profiling as PR

    ev = _t(spark, sf_dir, "events")
    out = PR.wasserstein_1d(
        ev,
        "event_type",
        PR.snap_units(F.col("value"), 1000000),
        F.col("event_id") % 2 == 0,
    )
    return out.orderBy("event_type")


SQL_WASSERSTEIN_DRIFT = """
WITH base AS (
  SELECT event_type,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM events),
cum AS (
  SELECT event_type, vm,
         max(ca) AS ca, max(cb) AS cb
  FROM (
    SELECT event_type, vm,
           sum(a) OVER (PARTITION BY event_type ORDER BY vm
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
           sum(1 - a) OVER (PARTITION BY event_type ORDER BY vm
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
    FROM base)
  GROUP BY event_type, vm),
gaps AS (
  SELECT event_type, vm, ca, cb,
         lead(vm) OVER (PARTITION BY event_type ORDER BY vm) AS nxt
  FROM cum),
tot AS (
  SELECT event_type, CAST(sum(a) AS BIGINT) AS n_a,
         CAST(sum(1 - a) AS BIGINT) AS n_b
  FROM base GROUP BY event_type),
gsum AS (
  SELECT g.event_type,
         CAST(sum(abs(g.ca * t.n_b - g.cb * t.n_a) * (g.nxt - g.vm))
              AS BIGINT) AS w1_num
  FROM gaps g JOIN tot t USING (event_type)
  WHERE g.nxt IS NOT NULL
  GROUP BY g.event_type)
SELECT t.event_type, t.n_a, t.n_b,
       CAST(coalesce(gsum.w1_num, 0) AS BIGINT) AS w1_num,
       round(CAST(coalesce(gsum.w1_num, 0) AS DOUBLE)
             / CAST(t.n_a * t.n_b AS DOUBLE) / 1000000.0, 6) AS w1
FROM tot t LEFT JOIN gsum USING (event_type)
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Kendall tau-b
# ---------------------------------------------------------------------------

def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Kendall tau-b between day index and daily event count —
    the third correlation leg (Pearson stats_corr: linear; Spearman:
    monotone ranks; Kendall: pairwise order agreement with the direct
    P(concordant) - P(discordant) reading) on the same daily pre-aggregate
    family as theil_sen_trend. Concordant/discordant/tie counts are exact
    BIGINT pair counts; one sqrt+divide at the end
    (operators/profiling.py::kendall_tau). Users whose series has no
    lexicographically distinguishable pair (< 2 points or all-identical)
    are excluded — tau is undefined there."""
    from ingestion_scripts_spark.operators import profiling as PR

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    d = daily.select(
        "user_id",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    out = PR.kendall_tau(d, "user_id", F.col("x"), F.col("y"))
    return out.select(
        F.col("g").alias("user_id"), "n", "concordant", "discordant", "tau_b"
    ).orderBy("user_id")


SQL_KENDALL_TAU = """
WITH daily AS (
  SELECT user_id AS g,
         CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id, date_trunc('day', ts)),
pairs AS (
  SELECT a.g,
         CASE WHEN a.x < b.x THEN 1 ELSE 0 END AS dx,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
  FROM daily a JOIN daily b
    ON a.g = b.g AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
counts AS (
  SELECT g,
         CAST(sum(CASE WHEN dx = 1 AND sy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN dx = 1 AND sy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN dx = 1 AND sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty_only,
         CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx_only
  FROM pairs GROUP BY g),
dup AS (
  SELECT g, CAST(sum((k * (k - 1)) // 2) AS BIGINT) AS txy
  FROM (SELECT g, x, y, count(*) AS k FROM daily GROUP BY 1, 2, 3)
  GROUP BY g),
nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY g)
SELECT c.g AS user_id, nn.n, c.c AS concordant, c.d AS discordant,
       CASE WHEN ((nn.n * (nn.n - 1)) // 2 - (c.tx_only + dup.txy)) > 0
             AND ((nn.n * (nn.n - 1)) // 2 - (c.ty_only + dup.txy)) > 0
            THEN round(CAST(c.c - c.d AS DOUBLE)
                 / sqrt(CAST((nn.n * (nn.n - 1)) // 2 - (c.tx_only + dup.txy)
                             AS DOUBLE)
                      * CAST((nn.n * (nn.n - 1)) // 2 - (c.ty_only + dup.txy)
                             AS DOUBLE)), 6)
       END AS tau_b
FROM counts c JOIN dup USING (g) JOIN nn USING (g)
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Mean reciprocal rank
# ---------------------------------------------------------------------------

def q_mrr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source reciprocal rank of the first English document under the
    n_chars ranking — the first-hit leg of the ranking-eval family
    (ROC-AUC / AP / nDCG / MRR), on the same scored/labelled input as
    ndcg_quality. rr_micro = 1000000 div first_rank (exact truncating
    division both engines); a source with no relevant doc contributes 0,
    the standard MRR convention (operators/profiling.py::
    mean_reciprocal_rank)."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    out = PR.mean_reciprocal_rank(
        docs,
        "source",
        F.col("n_chars"),
        (F.col("lang") == "en").cast("int"),
        "doc_id",
    )
    return out.select(
        F.col("g").alias("source"), "n", "first_rank", "rr_micro"
    ).orderBy("source")


SQL_MRR_QUALITY = """
WITH ranked AS (
  SELECT source AS g,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY source
                            ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id ASC)
           AS rnk
  FROM documents),
first AS (
  SELECT g, CAST(min(rnk) AS BIGINT) AS first_rank
  FROM ranked WHERE rel = 1 GROUP BY g),
grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM ranked GROUP BY g)
SELECT grp.g AS source, grp.n, first.first_rank,
       CAST(coalesce(1000000 // first.first_rank, 0) AS BIGINT) AS rr_micro
FROM grp LEFT JOIN first USING (g)
ORDER BY source
"""


# ---------------------------------------------------------------------------
# link prediction on the part co-order graph
# ---------------------------------------------------------------------------

def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted links on the part co-order graph (same edge set
    as triangle_cooccurrence: co-ordered in >= 2 orders): common
    neighbors, Jaccard, and Adamic-Adar for every non-edge 2-hop pair
    (operators/graph.py::link_prediction_scores) — "parts that share
    buying contexts but are never bought together", the
    graph-completion candidate list. Hub intermediaries above degree 500
    are excluded by construction (both engines), bounding wedge volume."""
    from ingestion_scripts_spark.operators import graph as G

    edges = _coorder_edges(spark, sf_dir).select("a", "b")
    out = G.link_prediction_scores(edges, "a", "b", max_degree=500)
    return out.orderBy(F.desc("aa_micro"), "u", "w").limit(100)


SQL_LINK_PREDICTION = """
WITH bsk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
e AS (
  SELECT x.it AS a, y.it AS b
  FROM bsk x JOIN bsk y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2),
nbr AS (SELECT a AS u, b AS z FROM e UNION ALL SELECT b AS u, a AS z FROM e),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY u),
nbrw AS (
  SELECT n.u, n.z,
         CAST(floor(1000000.0 / ln(CAST(d.deg AS DOUBLE)) + 0.5) AS BIGINT)
           AS aw
  FROM nbr n JOIN deg d ON d.u = n.z
  WHERE d.deg BETWEEN 2 AND 500),
wedges AS (
  SELECT l.u AS u, r.u AS w, l.aw
  FROM nbrw l JOIN nbrw r ON l.z = r.z AND l.u < r.u),
scored AS (
  SELECT u, w, CAST(count(*) AS BIGINT) AS common,
         CAST(sum(aw) AS BIGINT) AS aa_micro
  FROM wedges GROUP BY u, w),
cand AS (
  SELECT s.* FROM scored s
  LEFT JOIN e ON e.a = s.u AND e.b = s.w
  WHERE e.a IS NULL)
SELECT c.u, c.w, c.common,
       CAST((1000000 * c.common) // (du.deg + dw.deg - c.common) AS BIGINT)
         AS jaccard_micro,
       c.aa_micro
FROM cand c JOIN deg du ON du.u = c.u JOIN deg dw ON dw.u = c.w
ORDER BY c.aa_micro DESC, c.u, c.w
LIMIT 100
"""


# ---------------------------------------------------------------------------
# exact autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------

def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1..7) of daily revenue — the seasonality /
    memory profile of pipeline volume (weekly cadence shows at lag 7;
    white noise shows nothing), feeding anomaly baselines. Revenue snaps
    to exact cents PER ROW (one IEEE multiply chain, identical both
    engines) before the daily sum; centering is N-scaled so no mean ever
    materializes as a float; products accumulate in DECIMAL(38,0) /
    HUGEINT (operators/profiling.py::autocorrelation)."""
    from ingestion_scripts_spark.operators import profiling as PR

    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x")
    ).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("y")
    )
    return PR.autocorrelation(daily, F.col("x"), F.col("y"), max_lag=7).orderBy(
        "lag"
    )


SQL_ACF_DAILY = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS x,
         CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                             + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
          FROM daily),
centered AS (
  SELECT x, CAST(CAST(y AS HUGEINT) * n - s AS HUGEINT) AS c
  FROM daily, stats),
den AS (SELECT sum(c * c) AS den FROM centered),
nums AS (
  SELECT CAST(b.x - a.x AS BIGINT) AS lag,
         sum(a.c * b.c) AS num,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM centered a JOIN centered b ON b.x - a.x BETWEEN 1 AND 7
  GROUP BY 1)
SELECT lag, n_pairs,
       CASE WHEN den.den > 0
            THEN round(CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE), 6)
       END AS acf
FROM nums, den
ORDER BY lag
"""


# ---------------------------------------------------------------------------
# l-diversity privacy audit
# ---------------------------------------------------------------------------

def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure complement to
    k_anonymity_audit: a quasi-identifier class can be k-anonymous yet
    leak its SENSITIVE attribute when every member shares one value
    (Machanavajjhala et al. 2007). Classes are (day, user-cohort)
    quasi-identifier groups; the sensitive attribute is event_type;
    classes with < 3 distinct sensitive values are flagged."""
    ev = _t(spark, sf_dir, "events")
    cls = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        (F.col("user_id") % 50).cast("bigint").alias("cohort"),
    ).agg(F.countDistinct("event_type").cast("bigint").alias("l_distinct"))
    return cls.select(
        "day",
        "cohort",
        "l_distinct",
        (F.col("l_distinct") < 3).cast("int").alias("at_risk"),
    ).orderBy("day", "cohort")


SQL_L_DIVERSITY = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(user_id % 50 AS BIGINT) AS cohort,
       CAST(count(DISTINCT event_type) AS BIGINT) AS l_distinct,
       CASE WHEN count(DISTINCT event_type) < 3 THEN 1 ELSE 0 END AS at_risk
FROM events
GROUP BY 1, 2
ORDER BY day, cohort
"""


# ---------------------------------------------------------------------------
# multimodal aHash near-dup
# ---------------------------------------------------------------------------

def q_ahash_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over binary media payloads: 64-pixel
    average hash through Arrow mapInPandas (the production image-dedup
    shape: decode -> 8x8 -> threshold-at-mean -> banded hamming join),
    with the documented deterministic stand-in decode (base64 byte
    stream) so the oracle recomputes every pixel with ascii() and the
    whole pipeline — bit packing, 4x16-bit banding, pigeonhole candidate
    join, bit_count(xor) verify at hamming <= 3 — is value-checked
    (operators/multimodal.py::ahash_bands / ahash_near_dup_pairs)."""
    from ingestion_scripts_spark.operators.multimodal import (
        ahash_bands,
        ahash_near_dup_pairs,
        text_to_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = text_to_media(docs)
    hashes = ahash_bands(media)
    return ahash_near_dup_pairs(hashes, max_hamming=3).orderBy("id_a", "id_b")


SQL_AHASH_NEARDUP = """
WITH b AS (
  SELECT doc_id AS media_id, to_base64(encode(text)) AS s FROM documents),
p AS (
  SELECT media_id,
         substr(repeat(s, CAST(64 // length(s) AS INT) + 1), 1, 64) AS s64
  FROM b WHERE length(s) > 0),
px AS (
  SELECT media_id,
         list_transform(range(1, 65),
                        j -> ascii(substr(s64, CAST(j AS INT), 1))) AS px
  FROM p),
t AS (SELECT media_id, px, list_sum(px) AS tot FROM px),
bands AS (
  SELECT media_id,
    CAST(list_sum(list_transform(range(1, 17), j -> CASE
      WHEN 64 * px[CAST(j AS INT)] > tot
      THEN (CAST(1 AS BIGINT) << (16 - CAST(j AS INT))) ELSE 0 END))
      AS BIGINT) AS b0,
    CAST(list_sum(list_transform(range(1, 17), j -> CASE
      WHEN 64 * px[CAST(16 + j AS INT)] > tot
      THEN (CAST(1 AS BIGINT) << (16 - CAST(j AS INT))) ELSE 0 END))
      AS BIGINT) AS b1,
    CAST(list_sum(list_transform(range(1, 17), j -> CASE
      WHEN 64 * px[CAST(32 + j AS INT)] > tot
      THEN (CAST(1 AS BIGINT) << (16 - CAST(j AS INT))) ELSE 0 END))
      AS BIGINT) AS b2,
    CAST(list_sum(list_transform(range(1, 17), j -> CASE
      WHEN 64 * px[CAST(48 + j AS INT)] > tot
      THEN (CAST(1 AS BIGINT) << (16 - CAST(j AS INT))) ELSE 0 END))
      AS BIGINT) AS b3
  FROM t)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
          AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.media_id < b.media_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# seasonal decomposition of daily revenue
# ---------------------------------------------------------------------------

def q_seasonal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of daily revenue into trend / weekly
    seasonal / residual (operators/profiling.py::seasonal_decompose_daily)
    — the sanity layer under anomaly alerts (a weekday-shaped "spike"
    should page nobody), on the same exact-cents daily series as
    acf_daily. All components are division-free period-scaled BIGINTs;
    edge/gap days carry NULL trend by construction."""
    from ingestion_scripts_spark.operators import profiling as PR

    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x")
    ).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("y")
    )
    out = PR.seasonal_decompose_daily(daily, F.col("x"), F.col("y"), period=7)
    return out.orderBy("x")


SQL_SEASONAL_REVENUE = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS x,
         CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                             + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1),
t AS (
  SELECT x, y,
         count(*) OVER w AS win_n,
         sum(y) OVER w AS wsum
  FROM daily
  WINDOW w AS (ORDER BY x RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
det AS (
  SELECT x, y,
         CASE WHEN win_n = 7 THEN CAST(wsum AS BIGINT) END AS trend_sum,
         CAST(x % 7 AS BIGINT) AS phase,
         CASE WHEN win_n = 7 THEN CAST(7 * y - wsum AS BIGINT) END
           AS detrended_s
  FROM t),
seas AS (
  SELECT phase,
         CAST(sum(detrended_s) // count(*) AS BIGINT) AS seasonal_s
  FROM det WHERE detrended_s IS NOT NULL GROUP BY phase)
SELECT d.x, d.y, d.trend_sum, d.phase, d.detrended_s,
       CASE WHEN d.detrended_s IS NOT NULL THEN s.seasonal_s END
         AS seasonal_s,
       CASE WHEN d.detrended_s IS NOT NULL
            THEN d.detrended_s - s.seasonal_s END AS residual_s
FROM det d LEFT JOIN seas s USING (phase)
ORDER BY x
"""


# ---------------------------------------------------------------------------
# community modularity
# ---------------------------------------------------------------------------

def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities on the part
    co-order graph (operators/graph.py::modularity over the IDENTICAL
    2-round seeded spread as label_spread_communities) — the one-number
    quality gauge of the community assignment; random partitions score
    ~0, real structure scores positive. Exact BIGINT numerator
    sum_c(4m*in_c - deg_c^2); unlabeled nodes become singletons so the
    partition is total; one divide at the end."""
    from ingestion_scripts_spark.operators import graph as G

    e, labels = _coorder_label_spread(spark, sf_dir)
    return G.modularity(e.select("a", "b"), labels)


SQL_COMMUNITY_MODULARITY = _SQL_LABEL_SPREAD_CTES + """,
nodes AS (SELECT DISTINCT a AS node FROM esym),
full_l AS (
  SELECT n.node, coalesce(r2.label, n.node) AS lab
  FROM nodes n LEFT JOIN r2 ON r2.node = n.node),
m_row AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
tagged AS (
  SELECT la.lab AS la, lb.lab AS lb
  FROM e JOIN full_l la ON la.node = e.a JOIN full_l lb ON lb.node = e.b),
in_c AS (
  SELECT la AS lab, CAST(count(*) AS BIGINT) AS in_c
  FROM tagged WHERE la = lb GROUP BY 1),
deg AS (
  SELECT f.lab, CAST(sum(d.d) AS BIGINT) AS deg_c
  FROM full_l f JOIN (
    SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
      SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
    GROUP BY 1) d ON d.node = f.node
  GROUP BY 1),
per_c AS (
  SELECT deg.lab, coalesce(in_c.in_c, 0) AS in_c, deg.deg_c
  FROM deg LEFT JOIN in_c USING (lab)),
agg AS (
  SELECT max(m_row.m) AS m,
         CAST(count(*) AS BIGINT) AS n_communities,
         CAST(sum(4 * m_row.m * per_c.in_c - per_c.deg_c * per_c.deg_c)
              AS BIGINT) AS q_num
  FROM per_c, m_row)
SELECT m, n_communities, q_num,
       round(CAST(q_num AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
         AS modularity
FROM agg
"""


# ---------------------------------------------------------------------------
# leave-one-source-out quality valuation
# ---------------------------------------------------------------------------

def q_loo_quality_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation on mean document length: for
    each source, the corpus mean n_chars WITHOUT that source vs with it —
    the quality-weighted complement to source_unique_vocab's lexical
    valuation (a source can add unique vocabulary AND drag mean quality
    down). ONE pass: per-source (n, s) aggregates + a broadcast corpus
    total; means are truncating integer micro-divisions
    (floor-consistent on both engines), delta_micro > 0 means removing
    the source RAISES mean quality (the source is below average)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("s_i"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("s"),
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_i",
        "s_i",
        F.expr("(s * 1000000) div n").cast("bigint").alias("full_mean_micro"),
        F.expr("((s - s_i) * 1000000) div (n - n_i)")
        .cast("bigint")
        .alias("loo_mean_micro"),
        (
            F.expr("((s - s_i) * 1000000) div (n - n_i)")
            - F.expr("(s * 1000000) div n")
        )
        .cast("bigint")
        .alias("delta_micro"),
    )
    return out.orderBy("source")


SQL_LOO_QUALITY = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s_i
  FROM documents GROUP BY source),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s
  FROM documents)
SELECT per.source, per.n_i, per.s_i,
       CAST((tot.s * 1000000) // tot.n AS BIGINT) AS full_mean_micro,
       CAST(((tot.s - per.s_i) * 1000000) // (tot.n - per.n_i) AS BIGINT)
         AS loo_mean_micro,
       CAST(((tot.s - per.s_i) * 1000000) // (tot.n - per.n_i)
            - (tot.s * 1000000) // tot.n AS BIGINT) AS delta_micro
FROM per, tot
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Fano-factor burstiness
# ---------------------------------------------------------------------------

def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Fano factor (variance/mean) of the daily event-count
    series — the burstiness index (1 = Poisson, >> 1 = bot bursts /
    batch replays, < 1 = rate-limited), the distributional complement to
    bot_burst_users' threshold rule. Exact BIGINT numerator and
    denominator, one divide (operators/profiling.py::fano_factor)."""
    from ingestion_scripts_spark.operators import profiling as PR

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    out = PR.fano_factor(daily, "user_id", F.col("y"))
    return out.select(
        F.col("g").alias("user_id"), "n", "s", "var_num", "fano"
    ).orderBy("user_id")


SQL_FANO_BURSTINESS = """
WITH daily AS (
  SELECT user_id AS g, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id, date_trunc('day', ts)),
tot AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
  FROM daily GROUP BY g),
num AS (
  SELECT d.g,
         CAST(sum((d.y * t.n - t.s) * (d.y * t.n - t.s)) AS BIGINT)
           AS var_num
  FROM daily d JOIN tot t USING (g) GROUP BY d.g)
SELECT t.g AS user_id, t.n, t.s, num.var_num,
       CASE WHEN t.s > 0
            THEN round(CAST(num.var_num AS DOUBLE)
                       / CAST(t.n * t.n * t.s AS DOUBLE), 6)
       END AS fano
FROM num JOIN tot t USING (g)
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# KMV sketch intersection (theta-sketch set algebra)
# ---------------------------------------------------------------------------

def q_kmv_click_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard / intersection estimate of the click-user and
    purchase-user sets from their KMV sketches ALONE
    (operators/sketches.py::kmv_intersect) — the set-algebra leg of the
    sketch family (HLL unions are exact but intersections need
    inclusion-exclusion, whose error explodes for small overlaps; the
    theta/KMV trick estimates overlap directly from the bottom-k of the
    union). Exact when the union is smaller than k."""
    from ingestion_scripts_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    sk_a = SK.kmv_sketch(clicks, "event_type", F.col("user_id").cast("string"), k=64)
    sk_b = SK.kmv_sketch(buys, "event_type", F.col("user_id").cast("string"), k=64)
    return SK.kmv_intersect(sk_a, sk_b, k=64)


def _sql_kmv_click_purchase() -> str:
    from ingestion_scripts_spark.operators.sketches import (
        sql_kmv_intersect,
        sql_kmv_sketch,
    )

    a = sql_kmv_sketch(
        "(SELECT * FROM events WHERE event_type = 'click')",
        "event_type", "CAST(user_id AS VARCHAR)", 64,
    )
    b = sql_kmv_sketch(
        "(SELECT * FROM events WHERE event_type = 'purchase')",
        "event_type", "CAST(user_id AS VARCHAR)", 64,
    )
    return sql_kmv_intersect(f"({a})", f"({b})", 64)


# ---------------------------------------------------------------------------
# Brier decomposition
# ---------------------------------------------------------------------------

def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition (brier = reliability - resolution +
    uncertainty) of the SAME score/label pair calibration_bins diagrams
    (score = min(1, wc/80) micro-units; label = n_chars >= 250) — the
    one-row scorecard whose identity-derived resolution reconciles with
    the per-bin diagram bit-for-bit
    (operators/profiling.py::brier_decomposition)."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    wc = F.size(X.tokenize_ws(X.clean_text(F.col("text")))).cast("bigint")
    score_u = F.least(
        F.lit(1_000_000).cast("bigint"), (wc * F.lit(12500)).cast("bigint")
    )
    return PR.brier_decomposition(
        docs.select(score_u.alias("s"), (F.col("n_chars") >= 250).alias("y")),
        F.col("s"),
        F.col("y"),
        n_bins=10,
    )


def _sql_brier_score() -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    return f"""
WITH base AS (
  SELECT least(1000000, len({toks}) * 12500)::BIGINT AS s,
         CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
  FROM documents),
binned AS (
  SELECT s, y, least((s * 10) // 1000000, 9)::BIGINT AS bin FROM base),
per_bin AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(s) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS so,
         CAST(sum((s - y * 1000000) * (s - y * 1000000)) AS BIGINT)
           AS brier_num_b
  FROM binned GROUP BY bin),
agg AS (
  SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(so) AS BIGINT) AS so,
         CAST(sum(brier_num_b) AS BIGINT) AS brier_num,
         CAST(sum(((sp - so * 1000000) * (sp - so * 1000000)) // n_b)
              AS BIGINT) AS rel_num
  FROM per_bin)
SELECT n, so, brier_num, rel_num,
       round(CAST(brier_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 6)
         AS brier,
       round(CAST(rel_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 6)
         AS reliability,
       round(CAST(rel_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)
             - CAST(brier_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)
             + CAST(so * (n - so) AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS resolution,
       round(CAST(so * (n - so) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS uncertainty
FROM agg"""


# ---------------------------------------------------------------------------
# pinball (quantile) loss
# ---------------------------------------------------------------------------

def q_pinball_loss_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pinball loss of the source's own 0.9-quantile of
    n_chars as a constant predictor
    (operators/profiling.py::pinball_loss) — the falsifiable form of a
    quantile claim: the order statistic minimizes this loss, so any
    sketched/sampled quantile can be scored against the floor in the
    same units."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    out = PR.pinball_loss(docs, "source", F.col("n_chars"), q_num=9, q_den=10)
    return out.select(
        F.col("g").alias("source"), "n", "yhat", "loss_sum_scaled", "mean_loss"
    ).orderBy("source")


SQL_PINBALL_SOURCES = """
WITH pts AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS y FROM documents),
ranked AS (
  SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM pts),
yhat AS (
  SELECT g, CAST(n AS BIGINT) AS n, y AS yhat
  FROM ranked WHERE rn = (9 * n + 9) // 10),
scored AS (
  SELECT p.g,
         CASE WHEN p.y >= h.yhat THEN 9 * (p.y - h.yhat)
              ELSE 1 * (h.yhat - p.y) END AS contrib
  FROM pts p JOIN yhat h USING (g))
SELECT h.g AS source, h.n, h.yhat,
       CAST(sum(s.contrib) AS BIGINT) AS loss_sum_scaled,
       round(CAST(sum(s.contrib) AS DOUBLE) / (CAST(h.n AS DOUBLE) * 10.0), 6)
         AS mean_loss
FROM scored s JOIN yhat h USING (g)
GROUP BY h.g, h.n, h.yhat
ORDER BY source
"""


# ---------------------------------------------------------------------------
# hard-negative mining
# ---------------------------------------------------------------------------

def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining over the embeddings table: per sampled query,
    the top-3 most-similar vectors BELOW the near-dup boundary
    (cosine < 0.9) — the contrastive-training pair list (random
    negatives are information-free; near-dup "negatives" are label
    noise). Same exact-cosine idiom as embedding_topk; the threshold and
    ranks are cross-engine exact (operators/similarity.py::
    hard_negatives)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return SIM.hard_negatives(queries, emb, max_sim=0.9, k=3).orderBy(
        "query_id", "rank"
    )


_SQL_HN_NORM = (
    "sqrt(list_sum(list_transform(range(1, len({0}) + 1), i -> {0}[i] * {0}[i])))"
).format

SQL_HARD_NEGATIVES = f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 50 = 0),
q AS (SELECT query_id, list_transform(v, x -> x / {_SQL_HN_NORM('v')}) AS qv
      FROM q0),
c0 AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT match_id, list_transform(v, x -> x / {_SQL_HN_NORM('v')}) AS cv
      FROM c0),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q, c WHERE query_id <> match_id),
ranked AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, match_id ASC) AS rank
  FROM scored WHERE sim < 0.9)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# novelty decay across arrival order
# ---------------------------------------------------------------------------

def q_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-novelty decay across arrival buckets (doc_id div 50 as the
    arrival index): per bucket, the fraction of documents whose TEXT has
    never been seen in any earlier bucket or earlier in the same bucket
    — the curve a continuously-ingesting pipeline watches to decide when
    a source is mined out (novelty -> 0 long before volume does). A doc
    is novel iff it IS its text's first occurrence (min doc_id per
    text), so one keyed aggregate + one join answer every bucket at
    once; rates are truncating integer micro-divisions."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.groupBy("text").agg(F.min("doc_id").alias("first_id"))
    tagged = docs.join(first, "text").select(
        (F.col("doc_id") / 50).cast("bigint").alias("bucket"),
        (F.col("doc_id") == F.col("first_id")).cast("int").alias("novel"),
    )
    out = tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("novel").cast("bigint").alias("novel"),
    )
    return out.select(
        "bucket",
        "n",
        "novel",
        F.expr("(novel * 1000000) div n").cast("bigint").alias("novelty_micro"),
    ).orderBy("bucket")


SQL_NOVELTY_DECAY = """
WITH first AS (SELECT text, min(doc_id) AS first_id FROM documents GROUP BY text),
tagged AS (
  SELECT CAST(d.doc_id // 50 AS BIGINT) AS bucket,
         CASE WHEN d.doc_id = f.first_id THEN 1 ELSE 0 END AS novel
  FROM documents d JOIN first f USING (text))
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(novel) AS BIGINT) AS novel,
       CAST((sum(novel) * 1000000) // count(*) AS BIGINT) AS novelty_micro
FROM tagged GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------

def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order value within each nation —
    the dataset-card concentration metric (is a nation's revenue 5
    whales or a broad base? the data analog: is a source 5 power
    authors?). Exact integer numerator via the sorted-prefix identity
    G = (2*sum(i*y_i) - (n+1)*S) / (n*S) with y in exact cents and i a
    deterministic (value, custkey) rank; one float divide, 6 dp."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("y")
        )
        .join(cust, "c_custkey")
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select("n_name", "c_custkey", "y")
    )
    w = Window.partitionBy("n_name").orderBy("y", "c_custkey")
    ranked = per_cust.withColumn("i", F.row_number().over(w).cast("bigint"))
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("i") * F.col("y")).cast("bigint").alias("iy"),
    )
    return agg.select(
        F.col("n_name").alias("nation"),
        "n",
        "s",
        (F.lit(2) * F.col("iy") - (F.col("n") + 1) * F.col("s"))
        .cast("bigint")
        .alias("g_num"),
        F.round(
            (F.lit(2) * F.col("iy") - (F.col("n") + 1) * F.col("s")).cast("double")
            / (F.col("n") * F.col("s")).cast("double"),
            6,
        ).alias("gini"),
    ).orderBy("nation")


SQL_GINI = """
WITH per_cust AS (
  SELECT n.n_name,
         o.o_custkey AS c_custkey,
         CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT n_name, y,
         CAST(row_number() OVER (PARTITION BY n_name ORDER BY y, c_custkey)
              AS BIGINT) AS i
  FROM per_cust),
agg AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(i * y) AS BIGINT) AS iy
  FROM ranked GROUP BY n_name)
SELECT n_name AS nation, n, s,
       CAST(2 * iy - (n + 1) * s AS BIGINT) AS g_num,
       round(CAST(2 * iy - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE), 6)
         AS gini
FROM agg ORDER BY nation
"""


# ---------------------------------------------------------------------------
# negative-sampling table
# ---------------------------------------------------------------------------

def q_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table over the corpus unigram
    counts: weight ∝ f^0.75 (the smoothing that keeps frequent tokens
    from dominating draws), micro-snapped immediately so the cumulative
    ranges — the alias-table intervals a sampler binary-searches — are
    exact BIGINT prefix sums over a deterministic (weight desc, token)
    order. Top-200 rows. pow's last-ulp risk is confined to the snap
    (the mutual_information precedent); the prefix sums are integer."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(X.tokenize_ws(F.lower(X.clean_text(F.col("text"))))).alias("t")
    )
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    wgt = freq.select(
        "t",
        "f",
        F.floor(
            F.pow(F.col("f").cast("double"), F.lit(0.75)) * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    w = Window.orderBy(F.desc("w_micro"), F.asc("t"))
    ranked = wgt.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 200
    )
    cum = Window.orderBy(F.desc("w_micro"), F.asc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ranked.select(
        "rank", "t", "f", "w_micro", F.sum("w_micro").over(cum).cast("bigint").alias("cum_w")
    ).orderBy("rank")


def _sql_negative_sampling() -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("lower(text)"))
    return f"""
WITH toks AS (SELECT unnest({toks}) AS t FROM documents),
freq AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY t),
wgt AS (
  SELECT t, f,
         CAST(floor(pow(CAST(f AS DOUBLE), 0.75) * 1000000.0 + 0.5) AS BIGINT)
           AS w_micro
  FROM freq),
ranked AS (
  SELECT t, f, w_micro,
         CAST(row_number() OVER (ORDER BY w_micro DESC, t ASC) AS BIGINT)
           AS rank,
         CAST(sum(w_micro) OVER (ORDER BY w_micro DESC, t ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND
                                 CURRENT ROW) AS BIGINT) AS cum_w
  FROM wgt)
SELECT rank, t, f, w_micro, cum_w FROM ranked WHERE rank <= 200
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# streaming KMV distinct
# ---------------------------------------------------------------------------

def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count sketching: events replay as three
    deterministic micro-batches (event_id % 3); a ``foreachBatch``
    handler maintains the per-event_type KMV bottom-64 state in a
    parquet state dir (read previous state, union the batch's hashes,
    keep the k smallest — the sketch merge that needs no rescan). The
    oracle is the BATCH sketch over all events at once: KMV state is a
    pure min-set, ORDER-INDEPENDENT, so the streaming result must be
    bit-identical to the batch result — the strongest possible
    streaming/batch consistency law, and the 18th executed Structured
    Streaming query."""
    from ingestion_scripts_spark.operators import sketches as SK
    from ingestion_scripts_spark.sources.readers import path_exists
    from ingestion_scripts_spark.streaming.streams import (
        ordered_batches,
        run_available_now,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    src = _scratch(prefix="kmvstream_src_")
    stream = ordered_batches(
        [ev.filter(F.col("event_id") % 3 == i) for i in range(3)], src
    )
    state_dir = _scratch(prefix="kmvstream_state_") + "/state"

    def handle(batch_df: DataFrame, _bid: int) -> None:
        sp = batch_df.sparkSession
        sk = SK.kmv_sketch(
            batch_df, "event_type", F.col("user_id").cast("string"), k=64
        )
        merged = sk.select("g", "h")
        if path_exists(sp, state_dir):
            merged = sp.read.parquet(state_dir).unionByName(merged)
        w = Window.partitionBy("g").orderBy("h")
        topk = (
            merged.distinct().withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 64)
            .select("g", "h")
        )
        # rewrite-whole-state per batch: state is <= 64 rows per group
        topk.coalesce(1).write.mode("overwrite").parquet(state_dir + "_next")
        nxt = sp.read.parquet(state_dir + "_next")
        nxt.coalesce(1).write.mode("overwrite").parquet(state_dir)

    run_available_now(
        stream, handle, _scratch(prefix="ckpt_kmv_"), size_from=(src,)
    )
    final = spark.read.parquet(state_dir)
    return SK.kmv_estimate(final, k=64).orderBy("g")


def _sql_stream_kmv() -> str:
    from ingestion_scripts_spark.operators.sketches import (
        sql_kmv_estimate,
        sql_kmv_sketch,
    )

    sk = sql_kmv_sketch("events", "event_type", "CAST(user_id AS VARCHAR)", 64)
    est = sql_kmv_estimate(f"({sk})", 64)
    return f"{est}\nORDER BY g"


# ---------------------------------------------------------------------------
# rank-biased overlap: vocabulary stability between corpus halves
# ---------------------------------------------------------------------------

def q_rbo_vocab_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (p=0.9, depth 50) between the token-frequency
    rankings of the even- and odd-doc_id corpus halves
    (operators/retrieval.py::rbo_overlap) — the top-weighted "did the
    vocabulary ranking move?" eval that set-Jaccard flattens: rank-2
    disagreement outweighs rank-48. Weights are a FROZEN pico-unit table
    (no query-time powers — the ndcg discount idiom); overlap counts and
    the per-depth truncating divisions are exact integers."""
    from ingestion_scripts_spark.operators import retrieval as R

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(X.tokenize_ws(F.lower(X.clean_text(F.col("text"))))).alias("t"),
    )

    def ranking(parity: int):
        freq = (
            toks.filter(F.col("doc_id") % 2 == parity)
            .groupBy("t")
            .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        )
        w = Window.orderBy(F.desc("f"), F.asc("t"))
        return (
            freq.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= 50)
            .select(F.col("t").alias("key"), "rank")
        )

    return R.rbo_overlap(ranking(0), ranking(1), depth=50, p=0.9)


def _sql_rbo_vocab() -> str:
    from ingestion_scripts_spark.operators.retrieval import rbo_weights_pico

    toks = O.sql_tokenize_ws(O.sql_clean_text("lower(text)"))
    w = rbo_weights_pico(50, 0.9)
    wlist = ", ".join(str(int(x)) for x in w)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents),
ra AS (
  SELECT t AS key, CAST(row_number() OVER (ORDER BY count(*) DESC, t ASC)
         AS BIGINT) AS ra
  FROM toks WHERE doc_id % 2 = 0 GROUP BY t),
rb AS (
  SELECT t AS key, CAST(row_number() OVER (ORDER BY count(*) DESC, t ASC)
         AS BIGINT) AS rb
  FROM toks WHERE doc_id % 2 = 1 GROUP BY t),
common50 AS (
  SELECT greatest(ra.ra, rb.rb) AS maxr
  FROM ra JOIN rb USING (key) WHERE ra.ra <= 50 AND rb.rb <= 50),
depths AS (SELECT CAST(t.d AS BIGINT) AS d FROM unnest(range(1, 51)) AS t(d)),
overlap AS (
  SELECT d, CAST(count(b.maxr) AS BIGINT) AS overlap_d
  FROM depths LEFT JOIN common50 b ON b.maxr <= depths.d
  GROUP BY d),
warr AS (SELECT [{wlist}] AS w),
terms AS (
  SELECT o.d, o.overlap_d,
         CAST((warr.w[CAST(o.d AS INT)] * o.overlap_d) // o.d AS BIGINT)
           AS term_pico
  FROM overlap o, warr)
SELECT CAST(50 AS BIGINT) AS depth,
       CAST(max(CASE WHEN d = 50 THEN overlap_d END) AS BIGINT) AS n_common,
       CAST(sum(term_pico) AS BIGINT) AS rbo_pico,
       round(CAST(sum(term_pico) AS DOUBLE) / 1e12, 6) AS rbo
FROM terms"""


# ---------------------------------------------------------------------------
# decile lift / cumulative gains
# ---------------------------------------------------------------------------

def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table of the wc-derived quality score
    against the n_chars >= 250 label (same pair as calibration_bins /
    brier_score) — "the top decile of the ranking captures X% of the
    positives at lift L": population deciles from the deterministic
    (score desc, doc_id) rank, exact integer lift
    (operators/profiling.py::decile_lift)."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    wc = F.size(X.tokenize_ws(X.clean_text(F.col("text")))).cast("bigint")
    score_u = F.least(
        F.lit(1_000_000).cast("bigint"), (wc * F.lit(12500)).cast("bigint")
    )
    return PR.decile_lift(
        docs.select(
            score_u.alias("s"), (F.col("n_chars") >= 250).alias("y"), "doc_id"
        ),
        F.col("s"),
        F.col("y"),
        "doc_id",
        n_buckets=10,
    )


def _sql_decile_lift() -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    return f"""
WITH base AS (
  SELECT least(1000000, len({toks}) * 12500)::BIGINT AS s,
         CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y,
         doc_id AS id
  FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
        FROM base),
ranked AS (
  SELECT y, CAST(row_number() OVER (ORDER BY s DESC, id ASC) AS BIGINT) AS rn
  FROM base),
bucketed AS (
  SELECT CAST(((rn - 1) * 10) // tot.n AS BIGINT) AS decile, y, tot.n, tot.p
  FROM ranked, tot),
per AS (
  SELECT decile, n, p, CAST(count(*) AS BIGINT) AS n_d,
         CAST(sum(y) AS BIGINT) AS pos_d
  FROM bucketed GROUP BY decile, n, p),
cum AS (
  SELECT decile, n_d, pos_d, n, p,
         CAST(sum(n_d) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         CAST(sum(pos_d) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
  FROM per)
SELECT decile, n_d, pos_d, cum_n, cum_pos,
       CASE WHEN p > 0
            THEN CAST((cum_pos * n * 1000000) // (cum_n * p) AS BIGINT)
       END AS lift_micro
FROM cum ORDER BY decile"""


# ---------------------------------------------------------------------------
# conditional entropy of event transitions
# ---------------------------------------------------------------------------

def q_entropy_rate_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy H(next | prev) of the event-type
    transition process (consecutive events per user — the same edge
    build as hits_scores / event_transitions), in exact nano-nats
    (operators/profiling.py::conditional_entropy) — the predictability
    profile: a state whose successors are near-uniform is where sessions
    lose structure; the sequence-level complement to char_entropy and
    the Markov transition matrix."""
    from ingestion_scripts_spark.operators import profiling as PR

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .select("prev", F.col("event_type").alias("nxt"))
    )
    return PR.conditional_entropy(trans, "prev", "nxt")


SQL_ENTROPY_RATE = """
WITH trans AS (
  SELECT prev, event_type AS nxt FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev
    FROM events)
  WHERE prev IS NOT NULL),
cells AS (
  SELECT prev, nxt, CAST(count(*) AS BIGINT) AS nuv
  FROM trans GROUP BY prev, nxt),
nu AS (SELECT prev, CAST(sum(nuv) AS BIGINT) AS nu FROM cells GROUP BY prev),
contrib AS (
  SELECT c.prev, n.nu,
         CAST(floor(-(CAST(c.nuv AS DOUBLE) / CAST(n.nu AS DOUBLE))
                    * ln(CAST(c.nuv AS DOUBLE) / CAST(n.nu AS DOUBLE))
                    * 1e9 + 0.5) AS BIGINT) AS h_nano_uv
  FROM cells c JOIN nu n USING (prev))
SELECT prev, CAST(max(nu) AS BIGINT) AS n_u,
       CAST(count(*) AS BIGINT) AS n_successors,
       CAST(sum(h_nano_uv) AS BIGINT) AS h_nano
FROM contrib GROUP BY prev
ORDER BY prev
"""


__all__ = [n for n in globals() if not n.startswith("__")]
