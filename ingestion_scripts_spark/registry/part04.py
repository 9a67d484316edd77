"""Registry implementation, part 04 — an order-preserving slice of the
former monolithic ``__spark_entry__.py`` (r5 VERDICT item 7)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.caching import persist_tracked
from ingestion_scripts_spark.functions import sentiment as S
from ingestion_scripts_spark.functions import text as X
from ingestion_scripts_spark.functions import timefns as TF
from ingestion_scripts_spark.operators import dedup as D
from ingestion_scripts_spark.operators import keywords as K
from ingestion_scripts_spark.operators import similarity as SIM
from ingestion_scripts_spark.operators import text_analysis as TA

from ingestion_scripts_spark.registry.part03 import *  # noqa: F401,F403



SQL_VARIANT_PROPS = """
SELECT event_type, count(*) AS n,
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       min(json_extract(props, '$.k')::BIGINT) AS min_k,
       max(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape with the native ``unpivot`` (melt) operator, then
    a per-(brand, metric) aggregate — the profiling shape that feeds any
    column-level stats dashboard. Narrow transform + one shuffled agg."""
    part = _t(spark, sf_dir, "part").withColumn(
        "p_size_d", F.col("p_size").cast("double")
    )
    long = part.unpivot(
        ids=["p_brand"],
        values=["p_retailprice", "p_size_d"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return (
        long.groupBy("p_brand", "metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            TA.r4(
                F.sum(F.col("val").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_val"),
        )
        .orderBy("p_brand", "metric")
    )


SQL_UNPIVOT_PART = f"""
WITH long AS (
  SELECT p_brand, 'p_retailprice' AS metric, p_retailprice AS val FROM part
  UNION ALL
  SELECT p_brand, 'p_size_d', p_size::DOUBLE FROM part
)
SELECT p_brand, metric, count(*) AS n,
       {O.sql_r4("sum(CAST(val AS DECIMAL(18,4)))::DOUBLE / count(*)")} AS avg_val
FROM long GROUP BY p_brand, metric ORDER BY p_brand, metric
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event stream
    (``lead`` within the per-user ordering) — the path-mining primitive
    behind funnel discovery. One shuffle on user_id for the window, one
    keyed agg on the (from, to) pair; both partition cleanly at scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


SQL_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events)
SELECT from_type, to_type, count(*) AS n
FROM pairs WHERE to_type IS NOT NULL
GROUP BY from_type, to_type ORDER BY from_type, to_type
"""


def q_safe_cast_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant numeric ingestion with ``try_cast``: a deterministic
    dirty-string column (padded / suffixed / sentinel / empty variants of
    the props int) parsed with NULL-on-failure semantics instead of a job
    abort — the ANSI-mode-safe path a 100 TB load needs (one malformed row
    must not kill the job; it lands in the n_bad count)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    raw = (
        F.when(F.col("event_id") % 5 == 0, F.lit("N/A"))
        .when(F.col("event_id") % 5 == 1, F.lit(""))
        .when(
            F.col("event_id") % 5 == 2,
            F.concat(F.lit(" "), F.col("k").cast("string"), F.lit(" ")),
        )
        .when(F.col("event_id") % 5 == 3, F.concat(F.col("k").cast("string"), F.lit("x")))
        .otherwise(F.col("k").cast("string"))
    )
    parsed = ev.withColumn("parsed", raw.try_cast("bigint"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("parsed").alias("n_parsed"),
            F.count_if(F.col("parsed").isNull()).cast("bigint").alias("n_bad"),
            F.sum("parsed").alias("sum_parsed"),
        )
        .orderBy("event_type")
    )


SQL_SAFE_CAST = """
WITH raw AS (
  SELECT event_type,
         CASE WHEN event_id % 5 = 0 THEN 'N/A'
              WHEN event_id % 5 = 1 THEN ''
              WHEN event_id % 5 = 2
                THEN ' ' || (json_extract(props,'$.k')::BIGINT)::VARCHAR || ' '
              WHEN event_id % 5 = 3
                THEN (json_extract(props,'$.k')::BIGINT)::VARCHAR || 'x'
              ELSE (json_extract(props,'$.k')::BIGINT)::VARCHAR END AS s
  FROM events)
SELECT event_type, count(*) AS n_total,
       count(try_cast(s AS BIGINT)) AS n_parsed,
       CAST(count(*) FILTER (WHERE try_cast(s AS BIGINT) IS NULL) AS BIGINT)
         AS n_bad,
       CAST(sum(try_cast(s AS BIGINT)) AS BIGINT) AS sum_parsed
FROM raw GROUP BY event_type ORDER BY event_type
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup: lowercase the host, strip
    the fragment, drop ``utm_*`` tracking params, collapse trailing slashes
    — then count distinct canonical URLs per host. Built on the JVM-side
    ``try_parse_url`` (NULL, not INVALID_URL, on malformed input — no
    Python in the hot path); the URL column is
    synthesized deterministically (messy case / params / fragments) so the
    DuckDB regexp oracle sees the same inputs."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM/Path/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&utm_source=feed")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 3 == 1, F.lit("&utm_campaign=x&ref=r")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    u = doc.withColumn("url", url)
    host = F.lower(F.try_parse_url("url", F.lit("HOST")))
    path = F.regexp_replace(F.try_parse_url("url", F.lit("PATH")), "/+$", "")
    q = F.coalesce(F.try_parse_url("url", F.lit("QUERY")), F.lit(""))
    keep = F.array_join(
        F.filter(F.split(q, "&"), lambda x: ~x.startswith("utm_")), "&"
    )
    canon = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(keep != "", F.concat(F.lit("?"), keep)).otherwise(F.lit("")),
    )
    return (
        u.select(host.alias("host"), canon.alias("canon"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct(F.col("canon")).alias("n_canonical"),
            F.min("canon").alias("sample_canon"),
        )
        .orderBy("host")
    )


SQL_URL_CANON = """
WITH u AS (
  SELECT 'HTTPS://WWW.Example' || (doc_id % 7)::VARCHAR || '.COM/Path/'
         || source || '/' || doc_id::VARCHAR
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || '?id=' || (doc_id % 5)::VARCHAR
         || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END
         || CASE WHEN doc_id % 3 = 1 THEN '&utm_campaign=x&ref=r' ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
         regexp_replace(
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '')
           AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u),
canon AS (
  SELECT host,
         'https://' || host || path ||
         CASE WHEN array_to_string(
                list_filter(string_split(q, '&'),
                            x -> NOT starts_with(x, 'utm_')), '&') <> ''
              THEN '?' || array_to_string(
                list_filter(string_split(q, '&'),
                            x -> NOT starts_with(x, 'utm_')), '&')
              ELSE '' END AS c
  FROM parts)
SELECT host, count(*) AS n_urls, count(DISTINCT c) AS n_canonical,
       min(c) AS sample_canon
FROM canon GROUP BY host ORDER BY host
"""


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=0.3) over the daily value series — the smoothed
    engagement signal behind churn scoring. Daily sums accumulate as
    DECIMAL(18,4) (order-independent across engines); the EWMA itself is a
    LEFT-TO-RIGHT fold over the day-sorted array (``F.aggregate`` here,
    ``list_reduce`` with a prepended init in the oracle) so both engines
    execute the identical IEEE op sequence. Per-user arrays are bounded by
    calendar days, not event count — safe at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"))
    per_user = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("series")
    )
    ewma = F.aggregate(
        F.transform(F.col("series"), lambda s: s["v"]),
        F.lit(0.0),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return per_user.select(
        "user_id",
        F.size("series").cast("bigint").alias("n_days"),
        TA.r4(ewma).alias("ewma"),
    ).orderBy("user_id")


SQL_EWMA = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS v
  FROM events GROUP BY user_id, date_trunc('day', ts)),
series AS (
  SELECT user_id, list(v ORDER BY day) AS vs
  FROM daily GROUP BY user_id)
SELECT user_id, CAST(len(vs) AS BIGINT) AS n_days,
       {O.sql_r4("list_reduce(list_prepend(0.0, vs)::DOUBLE[], (acc, x) -> 0.3*x + 0.7*acc)")} AS ewma
FROM series ORDER BY user_id
"""


def q_strip_accents_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode accent normalization (NFD → drop combining marks) via an
    Arrow-batched pandas UDF — the pre-tokenization cleanup every
    multilingual corpus runs. Accents are synthesized deterministically
    (``translate`` a→á …) so the round trip is checkable: stripping must
    restore the original text exactly. Oracle uses DuckDB's native
    ``strip_accents``; agreement pins the UDF's law."""
    from ingestion_scripts_spark.functions.text import strip_accents_udf

    strip = strip_accents_udf()
    doc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    accented = F.translate(F.col("text"), "aeiou", "áéíöü")
    d = doc.select(
        "doc_id",
        "text",
        accented.alias("accented"),
        strip(accented).alias("stripped"),
    )
    return d.select(
        "doc_id",
        (F.col("stripped") == F.col("text")).alias("restored"),
        (
            F.length("accented")
            - F.length(F.regexp_replace("accented", "[áéíöü]", ""))
        ).cast("bigint").alias("n_accents"),
    ).orderBy("doc_id")


SQL_STRIP_ACCENTS = """
WITH d AS (
  SELECT doc_id, text,
         translate(text, 'aeiou', 'áéíöü') AS accented
  FROM documents)
SELECT doc_id,
       strip_accents(accented) = text AS restored,
       CAST(length(accented)
            - length(regexp_replace(accented, '[áéíöü]', '', 'g')) AS BIGINT)
         AS n_accents
FROM d ORDER BY doc_id
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and the props int,
    per event type — the robust (monotonic, outlier-insensitive) companion
    to ``stats_corr``'s Pearson. Ranks come from ``rank()`` (min-rank ties,
    identical in both engines); the correlation is assembled from EXACT
    bigint rank sums, so the only float ops are the final division and
    sqrt — bit-identical across engines."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    rv = F.rank().over(Window.partitionBy("event_type").orderBy("value"))
    rk = F.rank().over(Window.partitionBy("event_type").orderBy("k"))
    ranked = ev.select("event_type", rv.alias("rx"), rk.alias("ry"))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return agg.select(
        "event_type", "n", TA.r4(num / den).alias("spearman")
    ).orderBy("event_type")


SQL_SPEARMAN = f"""
WITH ranked AS (
  SELECT event_type,
         rank() OVER (PARTITION BY event_type ORDER BY value) AS rx,
         rank() OVER (PARTITION BY event_type
                      ORDER BY json_extract(props,'$.k')::BIGINT) AS ry
  FROM events),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx*ry) AS BIGINT) AS sxy,
         CAST(sum(rx*rx) AS BIGINT) AS sxx,
         CAST(sum(ry*ry) AS BIGINT) AS syy
  FROM ranked GROUP BY event_type)
SELECT event_type, n,
       {O.sql_r4("((n*sxy - sx*sy)::DOUBLE) / sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)")}
         AS spearman
FROM agg ORDER BY event_type
"""


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection with median/MAD instead of mean/stddev
    (``anomaly_zscore``'s non-robust twin): a single extreme value cannot
    drag the threshold. Medians are EXACT lower-median order statistics
    (row_number, no interpolation — interpolation formulas differ across
    engines by ULPs); the outlier gate |x−med| > 4.4478·mad uses one
    multiply, bit-identical in both engines."""
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    n_w = Window.partitionBy("event_type")
    rn_v = Window.partitionBy("event_type").orderBy("value", "event_id")
    with_med = (
        ev.withColumn("rn", F.row_number().over(rn_v))
        .withColumn("n", F.count(F.lit(1)).over(n_w))
        .withColumn(
            "med",
            F.max(F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("value"))).over(
                n_w
            ),
        )
    )
    dev = with_med.select(
        "event_type",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    rn_d = Window.partitionBy("event_type").orderBy("dev", "event_id")
    with_mad = (
        dev.withColumn("rn", F.row_number().over(rn_d))
        .withColumn("n", F.count(F.lit(1)).over(n_w))
        .withColumn(
            "mad",
            F.max(F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("dev"))).over(
                n_w
            ),
        )
    )
    return (
        with_mad.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            TA.r4(F.max("med")).alias("med"),
            TA.r4(F.max("mad")).alias("mad"),
            F.count_if(F.col("dev") > F.col("mad") * 4.4478)
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


SQL_ROBUST_ZSCORE = f"""
WITH v AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
med AS (
  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
  FROM v GROUP BY event_type),
dev AS (
  SELECT v.event_type, v.event_id, abs(v.value - med.med) AS dev, med.med,
         row_number() OVER (PARTITION BY v.event_type
                            ORDER BY abs(v.value - med.med), v.event_id) AS rn,
         count(*) OVER (PARTITION BY v.event_type) AS n
  FROM v JOIN med ON v.event_type = med.event_type),
mad AS (
  SELECT event_type, max(med) AS med,
         max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
  FROM dev GROUP BY event_type)
SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n,
       {O.sql_r4("max(mad.med)")} AS med,
       {O.sql_r4("max(mad.mad)")} AS mad,
       CAST(count(*) FILTER (WHERE dev.dev > mad.mad * 4.4478) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type ORDER BY dev.event_type
"""


def q_hash_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-key sampling: rank each group by md5(id) and
    keep the first 20 — the reproducible per-domain eval-subset draw (same
    rows on every run and every engine, unlike rand()-based sampling).
    One shuffle on the key; the md5 order is uniform pseudo-random."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        doc.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("sample_rank") <= 20)
        .orderBy("source", "sample_rank")
    )


SQL_HASH_SAMPLE = """
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5(doc_id::VARCHAR), doc_id)
              AS BIGINT) AS sample_rank
  FROM documents)
WHERE sample_rank <= 20 ORDER BY source, sample_rank
"""


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (nation, order-year): all four grouping combinations in
    one pass (completes the grouping family next to ``rollup_revenue`` /
    ``grouping_sets_revenue``). Revenue accumulates as DECIMAL(18,4) —
    order-independent across engines; NULL grouping slots are labeled
    explicitly so the driver's hash can't confuse them with real NULLs."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("rev"),
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.cube("n_name", "yr")
        .agg(
            TA.r4(F.sum("rev").cast("double")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("yr"), F.lit(-1)).cast("bigint").alias("yr"),
            "revenue",
            "n_items",
        )
        .orderBy("nation", "yr")
    )


SQL_CUBE_REVENUE = f"""
SELECT coalesce(n_name, 'ALL') AS nation,
       CAST(coalesce(year(o_orderdate), -1) AS BIGINT) AS yr,
       {O.sql_r4("sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1::DECIMAL(18,4) - CAST(l_discount AS DECIMAL(18,4))))::DOUBLE")}
         AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, year(o_orderdate))
ORDER BY nation, yr
"""


def q_setsim_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-Jaccard near-dup pairs (threshold 0.7) via prefix filtering
    (PPJoin law, ``operators/setjoin.py``): candidates come from an
    equi-join on each doc's RAREST shingles only — the exact complement to
    the approximate MinHash-LSH path, over the SAME 3-gram shingle sets
    (unigram tokens are non-discriminative on a small shared vocabulary).
    Every threshold decision is integer arithmetic
    (``10·|a∩b| >= 7·|a∪b|``), so no float boundary can split the
    engines."""
    from ingestion_scripts_spark.operators.setjoin import jaccard_col, setsim_join

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", D.shingles(F.col("text"), 3).alias("tk")
    )
    pairs = setsim_join(docs, "doc_id", "tk", t_num=7, t_den=10)
    return pairs.select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("bigint").alias("n_inter"),
        F.col("n_union").cast("bigint").alias("n_union"),
        TA.r4(jaccard_col(F.col("n_inter"), F.col("n_union"))).alias("jaccard"),
    ).orderBy("id_a", "id_b")


SQL_SETSIM_JOIN = f"""
WITH toks AS (
  SELECT doc_id, {O.sql_shingles("text", 3)} AS tk
  FROM documents),
ex AS (SELECT doc_id, len(tk) AS sz, unnest(tk) AS tok FROM toks),
dfq AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
rnk AS (
  SELECT doc_id, sz, ex.tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY df, ex.tok) AS rn
  FROM ex JOIN dfq USING (tok)),
pre AS (SELECT * FROM rnk WHERE rn <= sz - (7*sz + 9) // 10 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pre a JOIN pre b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
   AND 7 * greatest(a.sz, b.sz) <= 10 * least(a.sz, b.sz)),
ver AS (
  SELECT id_a, id_b,
         len(list_intersect(x.tk, y.tk)) AS n_inter,
         len(list_distinct(x.tk || y.tk)) AS n_union
  FROM cand JOIN toks x ON id_a = x.doc_id JOIN toks y ON id_b = y.doc_id)
SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_union AS BIGINT) AS n_union,
       {O.sql_r4("n_inter::DOUBLE / n_union::DOUBLE")} AS jaccard
FROM ver WHERE 10 * n_inter >= 7 * n_union
ORDER BY id_a, id_b
"""


def q_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for ``q_interval_join_hot_hours`` (same result, same
    oracle): instead of a broadcast nested-loop range join, each interval
    is exploded into the hour buckets it covers and events equi-join on
    their own hour bucket with an exact residual range filter. The BNLJ
    form is right when the interval side is tiny; this form survives an
    interval side too large to broadcast — the join becomes a plain
    hash/sort-merge equi-join on a uniform (hour) key, each interval
    duplicated only into the ≤3 buckets it touches."""
    ev = _t(spark, sf_dir, "events").select(
        "ts", "event_type", F.date_trunc("hour", "ts").alias("bkt")
    )
    hot = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h0"))
        .agg(F.count(F.lit(1)).alias("n_purch"))
    )
    w = Window.orderBy(F.desc("n_purch"), F.asc("h0"))
    top = hot.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    ivals = top.select(
        "h0",
        (F.col("h0") - F.expr("INTERVAL 30 MINUTES")).alias("lo"),
        (F.col("h0") + F.expr("INTERVAL 90 MINUTES")).alias("hi"),
    ).withColumn(
        "bkt",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "lo"),
                F.date_trunc("hour", F.col("hi") - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    joined = ev.join(ivals, "bkt").where(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))
    )
    return (
        joined.groupBy(_fmt_ts(F.col("h0")).alias("win_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("win_start", "event_type")
    )


def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs over 3-gram shingles
    (``similarity.sparse_cosine_pairs``): the model-free sparse complement
    to the dense-embedding kernels — weights come from the corpus itself,
    candidates from an inverted index on discriminative shingles, and
    every sum (dot, norms) is exact int64 micro-unit arithmetic, so no
    float boundary can split the engines."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", D.shingles(F.col("text"), 3).alias("sh")
    )
    pairs = SIM.sparse_cosine_pairs(docs, "doc_id", "sh", min_cos_micro=500000)
    return pairs.orderBy("id_a", "id_b")


SQL_SPARSE_COSINE = f"""
WITH toks AS (SELECT doc_id, {O.sql_shingles("text", 3)} AS sh FROM documents),
tf AS (SELECT doc_id, unnest(sh) AS t FROM toks),
tfc AS (SELECT doc_id, t, count(*) AS cnt FROM tf GROUP BY doc_id, t),
dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dl FROM tfc GROUP BY doc_id),
dfq AS (SELECT t, count(*) AS dfc FROM tfc GROUP BY t),
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
w AS (
  SELECT doc_id, t,
         CAST(floor((cnt::DOUBLE / dl) * (ln((nd + 1.0) / (dfc + 1.0)) + 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS wi
  FROM tfc JOIN dl USING (doc_id) JOIN dfq USING (t), nd),
norms AS (SELECT doc_id, CAST(sum(wi * wi) AS BIGINT) AS n2
          FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(a.wi * b.wi) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       {O.sql_r4("dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))")}
         AS cos
FROM dots JOIN norms na ON id_a = na.doc_id JOIN norms nb ON id_b = nb.doc_id
WHERE {O.sql_r4("dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))")}
      >= 0.5
ORDER BY id_a, id_b
"""


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2 h length, 1 h slide) with the native
    ``window()`` — each event lands in exactly 2 overlapping windows
    (completes the window family next to tumbling ``hourly_windows`` and
    the session windows). The oracle unions the two shifted hour-truncs
    every slide position implies."""
    ev = _t(spark, sf_dir, "events")
    win = ev.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        TA.r4(F.sum(F.col("value").cast("decimal(18,4)")).cast("double")).alias(
            "total"
        ),
    )
    return win.select(
        _fmt_ts(F.col("w.start")).alias("win_start"),
        "event_type",
        "n",
        "total",
    ).orderBy("win_start", "event_type")


SQL_SLIDING_WINDOWS = f"""
WITH placed AS (
  SELECT date_trunc('hour', ts) AS w0, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts - INTERVAL 1 HOUR) AS w0, event_type, value
  FROM events)
SELECT {SQL_TS.format("w0")} AS win_start, event_type,
       count(*) AS n,
       {O.sql_r4("sum(CAST(value AS DECIMAL(18,4)))::DOUBLE")} AS total
FROM placed GROUP BY w0, event_type ORDER BY win_start, event_type
"""


def q_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 on an XML source (Spark 4 ships the XML reader built in):
    documents round-tripped through XML — free text with angle brackets /
    quotes is exactly where naive XML breaks — re-read with an explicit
    schema and aggregated. The oracle reads the parquet directly: the
    encode/decode must be lossless through entity escaping."""
    docs = _t(spark, sf_dir, "documents")
    tmp = _scratch(prefix="xml_src_")
    docs.select("doc_id", "text", "lang", "source", "n_chars").coalesce(
        4
    ).write.mode("overwrite").format("xml").option("rootTag", "docs").option(
        "rowTag", "doc"
    ).save(tmp)
    back = (
        spark.read.format("xml")
        .schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("rowTag", "doc")
        .load(tmp)
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .orderBy("source")
    )


SQL_XML_SOURCE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_text_len
FROM documents GROUP BY source ORDER BY source
"""


def q_supplier_wait_fault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept waiting orders): for finished
    orders served by >=2 suppliers, find the ones where EXACTLY ONE
    supplier shipped late (> order date + 90 days) — that supplier is the
    sole fault. Spark exercises the semi-join decorrelation path (two
    LEFT SEMI joins against keyed aggregates); the oracle states the same
    law as plain aggregates — equal results through different plans is
    exactly what the differential is for. All joins key on orderkey
    (uniform); the supplier dim is broadcast."""
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate").cast("date") > F.date_add("o_orderdate", 90)
            ).alias("late"),
        )
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("l_orderkey")
    )
    one_late = (
        li.filter("late")
        .groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("nl"))
        .filter(F.col("nl") == 1)
        .select("l_orderkey")
    )
    fault = (
        li.filter("late")
        .join(multi, "l_orderkey", "left_semi")
        .join(one_late, "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        fault.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


SQL_SUPPLIER_WAIT = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS ns,
         count(DISTINCT l_suppkey) FILTER (WHERE late) AS nl
  FROM li GROUP BY l_orderkey),
fault AS (
  SELECT DISTINCT li.l_orderkey, li.l_suppkey
  FROM li JOIN per_order USING (l_orderkey)
  WHERE li.late AND per_order.ns >= 2 AND per_order.nl = 1)
SELECT s_name, count(*) AS numwait
FROM fault JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
"""


def q_user_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement trend: ordinary-least-squares slope of daily
    value over day index — the churn-signal regression every growth
    dashboard computes. Same exact-arithmetic pattern as spearman_corr:
    x = day ordinal (int), y = daily value in int64 micro-units, all five
    OLS sums exact bigints; the single float division happens once at the
    end. Users with one active day are excluded (slope undefined)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias(
            "y"
        )
    )
    d = daily.select(
        "user_id",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        agg.filter(F.col("n") >= 2)
        .select(
            "user_id",
            F.col("n").alias("n_days"),
            TA.r4(num / den / 1000000.0).alias("slope_per_day"),
        )
        .orderBy("user_id")
    )


SQL_TREND_SLOPE = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY user_id, date_trunc('day', ts)),
d AS (
  SELECT user_id,
         CAST(datediff('day', DATE '2024-01-01', CAST(day AS DATE)) AS BIGINT)
           AS x, y
  FROM daily),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
  FROM d GROUP BY user_id)
SELECT user_id, n AS n_days,
       {O.sql_r4("((n*sxy - sx*sy)::DOUBLE) / ((n*sxx - sx*sx)::DOUBLE) / 1000000.0")}
         AS slope_per_day
FROM agg WHERE n >= 2 ORDER BY user_id
"""


def q_custom_feed_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the custom Python DataSource story
    (``sources/feed_datasource.py::JsonlSinkDataSource``): events flow
    through the partition-parallel JSONL sink with its two-phase task
    commit (temp file + driver rename — no half-visible files), then are
    re-read with an explicit schema and aggregated. The oracle reads the
    parquet directly: the custom sink must be a lossless pass-through."""
    from ingestion_scripts_spark.sources.feed_datasource import register_sink

    register_sink(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.get_json_object("props", "$.k")
        .cast("bigint")
        .alias("k")
    )
    tmp = _scratch(prefix="jsonl_sink_") + "/out"
    ev.repartition(4).write.format("jsonl_sink").mode("append").option(
        "path", tmp
    ).save()
    # the directory, filtered: a glob path makes the reader probe it for a
    # streaming-sink metadata dir and log a FileNotFoundException trace;
    # the filter still skips the sink's ``*.jsonl.inprogress`` temp files
    back = (
        spark.read.schema("event_id bigint, event_type string, k bigint")
        .option("pathGlobFilter", "*.jsonl")
        .json(tmp)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


SQL_CUSTOM_FEED_SINK = """
SELECT event_type, count(*) AS n,
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       max(event_id) AS max_id
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operations as audience algebra: clickers INTERSECT
    purchasers (converted), clickers EXCEPT purchasers (browsed only),
    purchasers EXCEPT clickers (direct buyers) — the native set operators
    (hash-dedup + co-partitioned set join under the hood), not a hand-rolled
    anti-join. One small report row per operation."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()

    def _row(tag: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("op"), F.count(F.lit(1)).alias("n_users")
        )

    report = (
        _row("clickers", clickers)
        .unionByName(_row("purchasers", purch))
        .unionByName(_row("converted", clickers.intersect(purch)))
        .unionByName(_row("browsed_only", clickers.subtract(purch)))
        .unionByName(_row("direct_buyers", purch.subtract(clickers)))
    )
    return report.orderBy("op")


SQL_SET_OPS = """
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
purch AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT * FROM (
  SELECT 'clickers' AS op, CAST(count(*) AS BIGINT) AS n_users FROM clickers
  UNION ALL
  SELECT 'purchasers', count(*) FROM purch
  UNION ALL
  SELECT 'converted', count(*) FROM (SELECT * FROM clickers INTERSECT SELECT * FROM purch)
  UNION ALL
  SELECT 'browsed_only', count(*) FROM (SELECT * FROM clickers EXCEPT SELECT * FROM purch)
  UNION ALL
  SELECT 'direct_buyers', count(*) FROM (SELECT * FROM purch EXCEPT SELECT * FROM clickers)
) ORDER BY op
"""


def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each high-balance customer paired with
    their 3 most expensive orders — the top-N-per-key shape written the
    way an analyst writes it (LATERAL subquery with ORDER BY/LIMIT), with
    Catalyst decorrelating it into a ranked window under the hood. The
    oracle runs DuckDB's own LATERAL."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_l")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_l")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM (SELECT c_custkey FROM customer_l WHERE c_acctbal > 9000) c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_l o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 3
        ) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


SQL_LATERAL_TOP = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) t
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


def q_scd_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2 validity-range) join — the third member of the
    temporal-join family next to as-of (`asof_clicks`) and interval
    (`interval_join_hot_hours`): each customer's order history defines
    priority regimes valid [order date, next order date); every lineitem
    is attributed to the regime active at its ship date. The join is
    key-equi on custkey with a range residual, then revenue per regime
    label. Per-key regime counts are bounded by order history, so the
    equi side stays uniform at scale."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    scd = orders.select(
        "o_custkey",
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_custkey",
            "l_shipdate",
            (
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (
                    F.lit(1).cast("decimal(18,4)")
                    - F.col("l_discount").cast("decimal(18,4)")
                )
            ).alias("rev"),
        )
    )
    pit = li.join(
        scd,
        (li.o_custkey == scd.o_custkey)
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("l_shipdate") < F.col("valid_to"))
        ),
    )
    return (
        pit.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            TA.r4(F.sum("rev").cast("double")).alias("revenue"),
        )
        .orderBy("prio")
    )


SQL_SCD_PIT = f"""
WITH scd AS (
  SELECT o_custkey, o_orderpriority AS prio, o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders),
li AS (
  SELECT o.o_custkey, l.l_shipdate,
         CAST(l.l_extendedprice AS DECIMAL(18,4))
           * (1::DECIMAL(18,4) - CAST(l.l_discount AS DECIMAL(18,4))) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT prio, count(*) AS n_items,
       {O.sql_r4("sum(rev)::DOUBLE")} AS revenue
FROM li JOIN scd
  ON li.o_custkey = scd.o_custkey
 AND li.l_shipdate >= scd.valid_from
 AND (scd.valid_to IS NULL OR li.l_shipdate < scd.valid_to)
GROUP BY prio ORDER BY prio
"""


def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: the staging pattern every production load
    runs — write the batch to a STAGED location, run the DQ expectation
    gate (``operators/dq.py``) against the staged files, and only a fully
    green report publishes (atomic rename) the staged data. The returned
    report carries the audit rows plus a ``published`` verdict row; the
    oracle recomputes the same checks straight from the source table —
    staging must be a lossless pass-through."""
    import os

    from ingestion_scripts_spark.operators import dq

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _scratch(prefix="wap_")
    staged, published = os.path.join(root, "staged"), os.path.join(root, "pub")
    ev.write.mode("overwrite").parquet(staged)
    back = spark.read.parquet(staged)
    report = dq.dq_report(
        [
            dq.expect_unique(back, "event_id"),
            dq.expect_not_null(back, "user_id"),
            dq.expect_range(back, "value", 0, 1e9),
        ]
    )
    # materialize the audit BEFORE publishing: the report plan reads the
    # staged files, which the publish rename moves out from under any
    # later re-execution (and a real WAP gate must decide on a frozen
    # audit anyway, not re-audit after publish)
    rows = [tuple(r) for r in report.collect()]
    ok = all(r[3] for r in rows)
    if ok:
        os.rename(staged, published)  # atomic publish of the audited batch
    n_pub = spark.read.parquet(published).count() if ok else 0
    rows.append(("published", 0, n_pub, ok))
    return (
        spark.createDataFrame(
            rows, "check string, n_bad bigint, n_total bigint, passed boolean"
        )
        .select(F.col("check").alias("check_name"), "n_bad", "n_total", "passed")
        .orderBy("check_name")
    )


SQL_WAP_PUBLISH = """
SELECT * FROM (
  SELECT 'unique:event_id' AS check_name,
         CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) AS n_bad,
         CAST(count(*) AS BIGINT) AS n_total,
         count(event_id) - count(DISTINCT event_id) = 0 AS passed
  FROM events
  UNION ALL
  SELECT 'not_null:user_id',
         CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT),
         CAST(count(*) AS BIGINT),
         count(*) FILTER (WHERE user_id IS NULL) = 0
  FROM events
  UNION ALL
  SELECT 'range:value',
         CAST(count(*) FILTER (WHERE value IS NOT NULL
                                 AND (value < 0 OR value > 1e9)) AS BIGINT),
         CAST(count(*) AS BIGINT),
         count(*) FILTER (WHERE value IS NOT NULL
                            AND (value < 0 OR value > 1e9)) = 0
  FROM events
  UNION ALL
  SELECT 'published', 0, CAST(count(*) AS BIGINT), true FROM events
) ORDER BY check_name
"""


def q_score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration: each document's quality proxy
    (n_chars) mapped to its WITHIN-SOURCE percentile rank — the
    quantile-normalization step that makes scores comparable across
    heterogeneous sources before a global keep-threshold. Percentile =
    (rank-1)/(n-1) from exact integer window ranks; only the final
    division is float. Sources are independent window partitions —
    uniform parallelism at any corpus size."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    n_w = Window.partitionBy("source")
    ranked = doc.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(n_w)
    )
    return ranked.select(
        "doc_id",
        "source",
        TA.r4(
            (F.col("rk") - 1).cast("double") / (F.col("n") - 1).cast("double")
        ).alias("pct"),
    ).orderBy("doc_id")


SQL_QUANTILE_NORM = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents)
SELECT doc_id, source,
       {O.sql_r4("(rk - 1)::DOUBLE / (n - 1)::DOUBLE")} AS pct
FROM ranked ORDER BY doc_id
"""


def q_trigram_udtf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trigrams via the POLYMORPHIC n-gram UDTF
    (``functions/udtfs.py::make_ngrams_udtf`` — output schema derives from
    the ``n`` argument through ``analyze()``, the Spark-4 dynamic-schema
    table-function contract), laterally joined against the documents
    table. Oracle: the same trigram law as plain SQL list ops."""
    from ingestion_scripts_spark.functions.udtfs import make_ngrams_udtf

    spark.udtf.register("ngrams_udtf", make_ngrams_udtf())
    _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("lt")
    ).createOrReplaceTempView("docs_ng_in")
    return spark.sql(
        """
        SELECT concat_ws(' ', g.w0, g.w1, g.w2) AS trigram,
               count(*) AS n
        FROM docs_ng_in d, LATERAL ngrams_udtf(d.lt, 3) g
        GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20
        """
    )


SQL_TRIGRAM_UDTF = f"""
WITH toks AS (SELECT doc_id, {O.sql_tokenize_ws("lower(text)")} AS t
              FROM documents),
tri AS (
  SELECT unnest(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
  FROM toks)
SELECT trigram, count(*) AS n
FROM tri GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under ``mergeSchema``: an early batch written
    WITHOUT a column, a later batch WITH it, read back as one table — the
    additive-column reality of every long-lived ingestion dataset. The
    missing column must surface as NULLs for old rows and exact values
    for new ones; the oracle reconstructs the same union from the source
    table directly."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.get_json_object("props", "$.k")
        .cast("bigint")
        .alias("k")
    )
    tmp = _scratch(prefix="schevo_")
    old = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    new = ev.filter(F.col("event_id") % 2 == 1)
    old.write.mode("overwrite").parquet(tmp + "/b=0")
    new.write.mode("overwrite").parquet(tmp + "/b=1")
    back = spark.read.option("mergeSchema", True).parquet(tmp + "/b=0", tmp + "/b=1")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


SQL_SCHEMA_EVOLUTION = """
WITH back AS (
  SELECT event_type, NULL::BIGINT AS k FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_type, json_extract(props, '$.k')::BIGINT FROM events
  WHERE event_id % 2 = 1)
SELECT event_type, count(*) AS n, count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM back GROUP BY event_type ORDER BY event_type
"""


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profiling — the numeric-forensics DQ check
    (synthetic or fabricated value columns drift from Benford's law).
    First significant digit comes from EXACT integer cents
    (floor(value·100 + 0.5) → string head), never from float log10, so
    the digit histogram is engine-exact; the expected share and chi²
    contribution are one float expression over exact counts."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    d = ev.select(F.substring(cents.cast("string"), 1, 1).alias("digit"))
    tot = d.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    by_digit = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    expected = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    return (
        by_digit.join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            TA.r4(F.col("n") / F.col("n_total")).alias("observed_share"),
            TA.r4(expected).alias("benford_share"),
            TA.r4(
                (F.col("n") / F.col("n_total") - expected)
                * (F.col("n") / F.col("n_total") - expected)
                / expected
            ).alias("chi2_part"),
        )
        .orderBy("digit")
    )


SQL_BENFORD = f"""
WITH d AS (
  SELECT substr(CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR),
                1, 1) AS digit
  FROM events WHERE value > 0),
tot AS (SELECT count(*) AS n_total FROM d),
by_digit AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
SELECT digit, n,
       {O.sql_r4("n::DOUBLE / n_total")} AS observed_share,
       {O.sql_r4("log10(1.0 + 1.0 / digit::DOUBLE)")} AS benford_share,
       {O.sql_r4("(n::DOUBLE / n_total - log10(1.0 + 1.0 / digit::DOUBLE)) * (n::DOUBLE / n_total - log10(1.0 + 1.0 / digit::DOUBLE)) / log10(1.0 + 1.0 / digit::DOUBLE)")}
         AS chi2_part
FROM by_digit, tot ORDER BY digit
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.py): docs with
    doc_id % 101 == 0 act as queries (their first-8 distinct tokens are
    the query terms); top-5 documents per query by BM25 over the
    whitespace-token inverted index. The per-term contribution snaps to
    integer micro-units before the per-doc sum, so scores and ranks are
    engine-exact; the query-doc itself ranks (positive control)."""
    import ingestion_scripts_spark.operators.retrieval as R

    docs = _t(spark, sf_dir, "documents")
    qterms = (
        docs.filter(F.col("doc_id") % 101 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.array_distinct(
                    F.slice(X.tokenize_ws(F.lower(F.col("text"))), 1, 8)
                )
            ).alias("term"),
        )
    )
    return R.bm25_topk(docs, qterms, "doc_id", "text", topk=5).orderBy(
        "query_id", "rnk"
    )


SQL_BM25_TOPK = f"""
WITH toks AS (
  SELECT doc_id, {O.sql_tokenize_ws('lower(text)')} AS toks FROM documents),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS sum_dl FROM toks),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term FROM toks)
  GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
q AS (
  SELECT doc_id AS query_id, unnest(list_distinct(toks[1:8])) AS term
  FROM toks WHERE doc_id % 101 = 0),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(floor(
           ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl
                               / (s.sum_dl::DOUBLE / s.n_docs::DOUBLE)))
           * 1000000.0 + 0.5) AS BIGINT) AS s_u
  FROM q JOIN tf USING (term) JOIN dft USING (term), stats s),
agg AS (
  SELECT query_id, doc_id, sum(s_u)::BIGINT AS score_u
  FROM scored GROUP BY query_id, doc_id),
rnk AS (
  SELECT query_id, doc_id, score_u,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS INT) AS rnk
  FROM agg)
SELECT query_id, rnk, doc_id, score_u, score_u / 1000000.0 AS score
FROM rnk WHERE rnk <= 5 ORDER BY query_id, rnk
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-inverted-index phrase search (operators/retrieval.py):
    the 2 most frequent corpus trigrams (count desc, trigram asc — the
    vocab_topn tiebreak) are the phrase set; every (phrase, doc)
    occurrence count comes from aligned-postings intersection
    (pos - offset grouping), never a per-phrase text rescan. The oracle
    enumerates token trigrams per doc — overlapping starts count in both
    formulations, so the laws agree exactly."""
    import ingestion_scripts_spark.operators.retrieval as R

    docs = _t(spark, sf_dir, "documents")
    tri = docs.select(
        F.explode(X.ngrams(X.tokenize_ws(F.lower(F.col("text"))), 3)).alias("g")
    )
    top = (
        tri.groupBy("g")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("g").asc())
        .limit(2)
    )
    phrases = top.select(
        F.col("g").alias("phrase"), F.split(F.col("g"), " ").alias("terms")
    )
    return R.phrase_hits(docs, phrases, "doc_id", "text").orderBy(
        "phrase", "doc_id"
    )


SQL_PHRASE_SEARCH = f"""
WITH toks AS (
  SELECT doc_id, {O.sql_tokenize_ws('lower(text)')} AS toks FROM documents),
grams AS (
  SELECT doc_id, unnest({O.sql_ngrams('toks', 3)}) AS g FROM toks),
top2 AS (
  SELECT g FROM grams GROUP BY g ORDER BY count(*) DESC, g LIMIT 2)
SELECT top2.g AS phrase, grams.doc_id, count(*)::BIGINT AS n_hits
FROM grams JOIN top2 USING (g)
GROUP BY phrase, grams.doc_id
ORDER BY phrase, grams.doc_id
"""


#: token-budget recipe (whitespace tokens per source; ~1/5 of each
#: source's sf0.01 token mass so the take is partial at every SF)
_TOKEN_BUDGETS = {"src0": 700, "src3": 150}
_TOKEN_BUDGET_DEFAULT = 300


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing (operators/retrieval.py): walk each
    source's documents in deterministic hash64 order and take documents
    while the running token count before the doc is under the source's
    budget — the "N tokens of source X" recipe step, laid out as a
    per-shard prefix sum (no global order; packs independently at
    scale)."""
    import ingestion_scripts_spark.operators.retrieval as R

    docs = _t(spark, sf_dir, "documents")
    ntok = F.size(X.tokenize_ws(F.lower(F.col("text"))))
    return R.token_budget_take(
        docs, "source", "doc_id", ntok, _TOKEN_BUDGETS, _TOKEN_BUDGET_DEFAULT
    ).orderBy("source", "cum_before", "doc_id")


_TOKEN_BUDGET_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {b}" for s, b in sorted(_TOKEN_BUDGETS.items()))
    + f" ELSE {_TOKEN_BUDGET_DEFAULT} END"
)
SQL_TOKEN_BUDGET_MIX = f"""
WITH d AS (
  SELECT doc_id, source,
         len({O.sql_tokenize_ws('lower(text)')})::BIGINT AS ntok,
         {O.sql_hash64("(source || '|' || doc_id)")} AS h
  FROM documents),
c AS (
  SELECT doc_id, source, ntok,
         coalesce(sum(ntok) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM d)
SELECT doc_id, source, ntok, cum_before
FROM c WHERE cum_before < {_TOKEN_BUDGET_CASE}
ORDER BY source, cum_before, doc_id
"""


def q_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (operators/graph.py) over the event-type Markov
    transition graph (same edge law as ``event_transitions``): 3 exact
    integer-unit rounds — each round is one keyed join + one keyed agg,
    the shape that runs a billion-node graph as 3 ordinary shuffles. The
    ranks are bit-identical across engines (pure BIGINT arithmetic), so
    the oracle unrolls the same 3 rounds as CTEs."""
    import ingestion_scripts_spark.operators.graph as G

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return G.pagerank_int(edges, "src", "dst", "w", iters=3).orderBy(
        F.col("pr_u").desc(), "node"
    )


def _pagerank_sql(iters: int = 3) -> str:
    its, prev = [], "r0"
    for i in range(1, iters + 1):
        its.append(
            f"""it{i} AS (
  SELECT n.node, CAST(150000 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum((p.r * e.w) // e.wt) AS BIGINT) AS c
    FROM e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst) s ON n.node = s.node)"""
        )
        prev = f"it{i}"
    return f"""
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events),
e0 AS (
  SELECT src, dst, count(*)::BIGINT AS w
  FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst),
e AS (
  SELECT e0.src, e0.dst, e0.w, o.wt
  FROM e0 JOIN (SELECT src, sum(w)::BIGINT AS wt FROM e0 GROUP BY src) o
    ON e0.src = o.src),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
{",".join(its)}
SELECT node, r AS pr_u, r / 1000000.0 AS pr
FROM {prev} ORDER BY pr_u DESC, node
"""


SQL_PAGERANK = _pagerank_sql(3)


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity report: every LSH candidate pair's
    exact Jaccard, bucketed into tenths with the INTEGER law
    ``bucket = min((10·|∩|) div |∪|, 9)`` (no float rounding anywhere),
    plus the cumulative pairs-at-or-above curve — the artifact that
    answers "how many pairs does threshold t delete?" before committing
    a 100 TB dedup run. One banded-LSH candidate pass feeds all
    thresholds; the report itself is a 10-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select("doc_id", D.shingles(F.col("text"), 3).alias("sh"))
    cand = D.minhash_lsh_candidates(docs, "doc_id", "text", 3, 16, 4)
    pairs = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("inter"),
            F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
            .cast("bigint")
            .alias("uni"),
        )
    )
    bk = pairs.select(
        "id_a",
        "id_b",
        F.least(F.expr("(10 * inter) div uni"), F.lit(9)).cast("int").alias("bucket"),
    )
    per = bk.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    ndocs = (
        bk.select("bucket", F.explode(F.array("id_a", "id_b")).alias("d"))
        .groupBy("bucket")
        .agg(F.countDistinct("d").cast("bigint").alias("n_docs"))
    )
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.join(ndocs, "bucket")
        .withColumn("threshold_lo", F.col("bucket") / F.lit(10.0))
        .withColumn("cum_pairs", F.sum("n_pairs").over(w).cast("bigint"))
        .select("bucket", "threshold_lo", "n_pairs", "n_docs", "cum_pairs")
        .orderBy("bucket")
    )


SQL_DEDUP_THRESHOLD_CURVE = f"""
WITH sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
pairs AS (
  SELECT cand.id_a, cand.id_b,
         len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
         len(list_distinct(a.sh || b.sh))::BIGINT AS uni
  FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id),
bk AS (
  SELECT id_a, id_b, CAST(least((10 * inter) // uni, 9) AS INT) AS bucket
  FROM pairs),
per AS (SELECT bucket, count(*)::BIGINT AS n_pairs FROM bk GROUP BY bucket),
nd AS (
  SELECT bucket, count(DISTINCT d)::BIGINT AS n_docs
  FROM (SELECT bucket, unnest([id_a, id_b]) AS d FROM bk) GROUP BY bucket)
SELECT per.bucket, per.bucket / 10.0 AS threshold_lo, per.n_pairs, nd.n_docs,
       CAST(sum(per.n_pairs) OVER (ORDER BY per.bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_pairs
FROM per JOIN nd ON per.bucket = nd.bucket
ORDER BY per.bucket
"""


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (operators/dedup.py): today's batch
    (doc_id % 10 == 0) against the existing corpus index (the rest) —
    band buckets of the two sides EQUI-join (new-side signatures only are
    computed per run; the index's (id, band, bucket) table persists), so
    daily ingest never re-pays the full-corpus self-join. Exact-Jaccard
    verification on candidates, threshold 0.8."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    return D.minhash_incremental_pairs(
        index, new, "doc_id", "text", threshold=0.8
    ).orderBy("new_id", "index_id")


SQL_INCREMENTAL_NEAR_DUP = f"""
WITH sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
  FROM banded n JOIN banded i ON n.band = i.band AND n.bucket = i.bucket
  WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0)
SELECT new_id, index_id,
  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        len(list_distinct(a.sh || b.sh)), 6) AS jaccard
FROM cand JOIN sh a ON cand.new_id = a.doc_id JOIN sh b ON cand.index_id = b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            len(list_distinct(a.sh || b.sh)), 6) >= 0.8
ORDER BY new_id, index_id
"""


def q_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-data QA profile per label: count, distinct dims (a ragged
    embedding column is corrupt), zero-norm count, min/max/avg L2 norm.
    Norms use the same per-row fold law as the similarity family; row-level
    norms snap to 1e-4 units so the cross-row aggregate is an exact integer
    sum (avg independent of aggregation order). One keyed agg — profiles
    a 100 TB vector table in a single pass."""
    emb = _t(spark, sf_dir, "embeddings")
    # cast BEFORE squaring: the column is float32, and a float32 square
    # rounds differently from the oracle's DOUBLE*DOUBLE whenever the norm
    # lands near a floor(x*1e4+0.5) snap boundary (ADVICE r3)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    rows = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.floor(norm * F.lit(10_000.0) + F.lit(0.5)).cast("bigint").alias("norm_u"),
    )
    return (
        rows.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.countDistinct("dim").cast("bigint").alias("n_dims"),
            F.sum(F.when(F.col("norm_u") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
            (F.min("norm_u") / F.lit(10_000.0)).alias("min_norm"),
            (F.max("norm_u") / F.lit(10_000.0)).alias("max_norm"),
            TA.r4(F.sum("norm_u").cast("double") / F.count(F.lit(1)) / F.lit(10_000.0)).alias(
                "avg_norm"
            ),
        )
        .orderBy("label")
    )


SQL_EMBEDDING_PROFILE = f"""
WITH rows_ AS (
  SELECT label, len(embedding)::BIGINT AS dim,
         CAST(floor(sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * 10000.0 + 0.5) AS BIGINT) AS norm_u
  FROM embeddings)
SELECT label,
       count(*)::BIGINT AS n_vecs,
       count(DISTINCT dim)::BIGINT AS n_dims,
       sum(CASE WHEN norm_u = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       min(norm_u) / 10000.0 AS min_norm,
       max(norm_u) / 10000.0 AS max_norm,
       {O.sql_r4('sum(norm_u)::DOUBLE / count(*) / 10000.0')} AS avg_norm
FROM rows_ GROUP BY label ORDER BY label
"""


def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (how much of the corpus sits in
    2-doc twins vs large boilerplate families): connected components over
    the MinHash near-dup graph → size per cluster → clusters per size.
    Singletons are their own cluster, so the histogram partitions the
    whole corpus; Σ size·n_clusters == corpus size."""
    assigned = q_dup_clusters(spark, sf_dir)
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .orderBy("cluster_size")
    )


SQL_DUP_CLUSTER_STATS = f"""
WITH RECURSIVE sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT a, b FROM edges
          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
assigned AS (
  SELECT d.doc_id, CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
sizes AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size
  FROM assigned GROUP BY cluster_id)
SELECT cluster_size, count(*)::BIGINT AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level MinHash similarity (operators/dedup.py): one
    signature per SOURCE over the union of its docs' shingles, pairwise
    agreement → near-mirror source detection without any doc-level
    comparison. The per-(source, seed) min aggregates with map-side
    partials; the pairwise stage sees only |sources|·num_hashes rows."""
    docs = _t(spark, sf_dir, "documents")
    return D.container_minhash_pairs(docs, "source", "text").orderBy(
        "src_a", "src_b"
    )


_CW_H1 = O.sql_hash64("s")
_CW_H2 = f"({O.sql_hash64(chr(40) + 's || ' + chr(39) + '#' + chr(39) + chr(41))} % {1 << 40})"
SQL_SOURCE_SIMILARITY = f"""
WITH sh AS (
  SELECT source AS c, unnest({O.sql_shingles('text', 3)}) AS s FROM documents),
hs AS (
  SELECT c, i AS seed, ({_CW_H1}) + i * {_CW_H2} AS h
  FROM sh, unnest(range(0, 16)) AS u(i)),
sig AS (SELECT c, seed, min(h) AS mh FROM hs GROUP BY c, seed),
pairs AS (
  SELECT a.c AS src_a, b.c AS src_b,
         sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)::BIGINT AS n_agree
  FROM sig a JOIN sig b ON a.seed = b.seed AND a.c < b.c
  GROUP BY 1, 2)
SELECT src_a, src_b, n_agree, n_agree / 16.0 AS est_jaccard
FROM pairs ORDER BY src_a, src_b
"""


def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality harness (the dedup analog of ``ann_recall``): exact
    PPJoin pairs at Jaccard ≥ 0.7 are ground truth; the MinHash-LSH path
    at the same threshold is the candidate under test. Because LSH
    candidates are exact-verified, false positives are impossible —
    ``n_extra`` must be 0 — and the single number that matters is recall
    (pairs the banding missed). One-row report."""
    from ingestion_scripts_spark.operators.setjoin import setsim_join

    docs = _t(spark, sf_dir, "documents")
    exact = setsim_join(
        docs.select("doc_id", D.shingles(F.col("text"), 3).alias("tk")),
        "doc_id", "tk", 7, 10,
    ).select("id_a", "id_b")
    approx = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7).select(
        "id_a", "id_b", F.lit(1).alias("__f")
    )
    j = exact.withColumn("__e", F.lit(1)).join(approx, ["id_a", "id_b"], "full")
    return j.agg(
        F.sum(F.coalesce(F.col("__e"), F.lit(0))).cast("bigint").alias("n_exact"),
        F.sum(
            F.when(F.col("__e").isNotNull() & F.col("__f").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_found"),
        F.sum(
            F.when(F.col("__e").isNotNull() & F.col("__f").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_missed"),
        F.sum(
            F.when(F.col("__e").isNull() & F.col("__f").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extra"),
        TA.r4(
            F.sum(
                F.when(F.col("__e").isNotNull() & F.col("__f").isNotNull(), 1).otherwise(0)
            )
            / F.greatest(F.sum(F.coalesce(F.col("__e"), F.lit(0))), F.lit(1))
        ).alias("recall"),
    )


SQL_DEDUP_RECALL = f"""
WITH toks AS (
  SELECT doc_id, {O.sql_shingles("text", 3)} AS tk FROM documents),
ex0 AS (SELECT doc_id, len(tk) AS sz, unnest(tk) AS tok FROM toks),
dfq AS (SELECT tok, count(*) AS df FROM ex0 GROUP BY tok),
rnk AS (
  SELECT doc_id, sz, ex0.tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY df, ex0.tok) AS rn
  FROM ex0 JOIN dfq USING (tok)),
pre AS (SELECT * FROM rnk WHERE rn <= sz - (7*sz + 9) // 10 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pre a JOIN pre b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
   AND 7 * greatest(a.sz, b.sz) <= 10 * least(a.sz, b.sz)),
exact AS (
  SELECT id_a, id_b
  FROM cand JOIN toks x ON id_a = x.doc_id JOIN toks y ON id_b = y.doc_id
  WHERE 10 * len(list_intersect(x.tk, y.tk)) >= 7 * len(list_distinct(x.tk || y.tk))),
sig AS (SELECT doc_id, tk AS sh, {O.sql_minhash_signature('tk', 16)} AS sig
        FROM toks WHERE len(tk) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
lcand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
approx AS (
  SELECT id_a, id_b
  FROM lcand JOIN toks x ON id_a = x.doc_id JOIN toks y ON id_b = y.doc_id
  WHERE round(len(list_intersect(x.tk, y.tk))::DOUBLE /
              len(list_distinct(x.tk || y.tk)), 6) >= 0.7),
j AS (
  SELECT coalesce(e.id_a, a.id_a) AS id_a, coalesce(e.id_b, a.id_b) AS id_b,
         (e.id_a IS NOT NULL) AS in_e, (a.id_a IS NOT NULL) AS in_a
  FROM exact e FULL JOIN approx a ON e.id_a = a.id_a AND e.id_b = a.id_b)
SELECT sum(CASE WHEN in_e THEN 1 ELSE 0 END)::BIGINT AS n_exact,
       sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END)::BIGINT AS n_found,
       sum(CASE WHEN in_e AND NOT in_a THEN 1 ELSE 0 END)::BIGINT AS n_missed,
       sum(CASE WHEN NOT in_e AND in_a THEN 1 ELSE 0 END)::BIGINT AS n_extra,
       {O.sql_r4('sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) / greatest(sum(CASE WHEN in_e THEN 1 ELSE 0 END), 1)')} AS recall
FROM j
"""


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup as a REAL streaming job: three deterministic
    micro-batches (doc_id % 3); each ``foreachBatch`` first drops in-batch
    near-dups (id_b of any pair, the curation rule), then drops docs with
    a near-twin in the ACCUMULATED KEPT INDEX (the reference's S3
    periodic-state-refresh shape), and appends the survivors. Each index
    row carries its precomputed LSH band buckets, so an arriving batch
    MinHashes only ITSELF — candidate generation equi-joins the stored
    buckets (an O(index) narrow explode, ~free next to the md5/minhash
    chain it replaces) and verification recomputes shingles for candidate
    index docs only. LSH candidates are per-pair (signatures don't depend on
    the candidate set), so the final kept set equals the unrolled batch
    law the oracle computes from ONE full-corpus pair table.

    Latency model (~8-11 s at bench SF): wall time is micro-batch count x
    per-trigger overhead — three file triggers, each paying stream
    planning, a parquet index re-read, a write, and checkpoint fsync.
    Data-plane MinHash work at this SF is a small fraction; the total
    scales with trigger count, not rows, so at production batch sizes the
    fixed per-trigger cost amortizes away."""
    import glob

    from ingestion_scripts_spark.streaming.streams import (
        ordered_batches,
        run_available_now,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = _scratch(prefix="incdd_src_")
    stream = ordered_batches(
        [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)], src
    )
    sink = _scratch(prefix="incdd_sink_") + "/out"

    def handle(batch_df: DataFrame, _bid: int) -> None:
        # Production shape: the batch's shingles and LSH band buckets are
        # computed ONCE and reused for both the in-batch pair pass and
        # the cross-vs-index pass; the index row carries its OWN (band,
        # bucket) list, so an arriving batch never re-hashes the
        # accumulated corpus — per-batch cost is O(batch) hashing plus an
        # O(index) explode of precomputed buckets (a narrow map, ~free
        # next to the md5/minhash chain it replaces). One write and one
        # read per batch.
        enriched = batch_df.select(
            "doc_id",
            "text",
            D.shingles(F.col("text"), 3).alias("sh"),
        ).persist()
        # one job materializes the cache AND decides emptiness (the old
        # isEmpty() probe was a separate job per trigger; count() of an
        # empty batch costs nothing — optimization r14)
        if enriched.count() == 0:
            enriched.unpersist(blocking=False)
            return
        bn = D.banded_buckets(batch_df, "doc_id", "text").persist()
        jacc = F.round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 6)
        sh_only = enriched.select("doc_id", "sh")
        in_drops = (
            D.pairs_from_banded(bn, "doc_id")
            .join(sh_only.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
            .join(sh_only.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
            .filter(jacc >= 0.8)
            .select(F.col("id_b").alias("doc_id"))
            .dropDuplicates()
        )
        kept = enriched.join(in_drops, "doc_id", "left_anti")
        if glob.glob(f"{sink}/*.parquet"):
            index = spark.read.parquet(sink)
            idx_bands = index.select(
                F.col("doc_id").alias("index_id"), F.explode("bands").alias("bb")
            ).select("index_id", "bb.band", "bb.bucket")
            cand = (
                bn.select(F.col("doc_id").alias("new_id"), "band", "bucket")
                .join(kept.select(F.col("doc_id").alias("new_id")), "new_id")
                .join(idx_bands, ["band", "bucket"])
                .select("new_id", "index_id")
                .dropDuplicates()
            )
            # shingles for CANDIDATE index docs only — never the full index
            idx_sh = (
                cand.select(F.col("index_id").alias("doc_id"))
                .dropDuplicates()
                .join(index, "doc_id")
                .select(
                    F.col("doc_id").alias("index_id"),
                    D.shingles(F.col("text"), 3).alias("sh_b"),
                )
            )
            cross_drops = (
                cand.join(
                    sh_only.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a")),
                    "new_id",
                )
                .join(idx_sh, "index_id")
                .filter(jacc >= 0.8)
                .select(F.col("new_id").alias("doc_id"))
                .dropDuplicates()
            )
            kept = kept.join(cross_drops, "doc_id", "left_anti")
        # the index row carries its bucket list; shingles are NOT stored
        # (they're corpus-sized — recomputed per candidate instead)
        (
            kept.drop("sh")
            .join(
                bn.groupBy("doc_id").agg(
                    F.collect_list(F.struct("band", "bucket")).alias("bands")
                ),
                "doc_id",
                "left",
            )
            .withColumn(
                "bands",
                F.coalesce(
                    F.col("bands"),
                    F.array().cast("array<struct<band:int,bucket:string>>"),
                ),
            )
            .write.mode("append")
            .parquet(sink)
        )
        enriched.unpersist()
        bn.unpersist()

    run_available_now(stream, handle, _scratch(prefix="ckpt_"), size_from=(src,))
    return spark.read.parquet(sink).select("doc_id").orderBy("doc_id")


SQL_STREAM_INCREMENTAL_DEDUP = f"""
WITH sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
e AS (SELECT id_a AS x, id_b AS y FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
kept0 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0
    AND doc_id NOT IN (SELECT id_b FROM pairs
                       WHERE id_a % 3 = 0 AND id_b % 3 = 0)),
kept1 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 1
    AND doc_id NOT IN (SELECT id_b FROM pairs
                       WHERE id_a % 3 = 1 AND id_b % 3 = 1)
    AND doc_id NOT IN (SELECT e.x FROM e JOIN kept0 k ON e.y = k.doc_id)),
kept2 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 2
    AND doc_id NOT IN (SELECT id_b FROM pairs
                       WHERE id_a % 3 = 2 AND id_b % 3 = 2)
    AND doc_id NOT IN (
      SELECT e.x FROM e JOIN (SELECT doc_id FROM kept0
                              UNION ALL SELECT doc_id FROM kept1) k
        ON e.y = k.doc_id))
SELECT doc_id FROM kept0
UNION ALL SELECT doc_id FROM kept1
UNION ALL SELECT doc_id FROM kept2
ORDER BY doc_id
"""


__all__ = [n for n in globals() if not n.startswith("__")]
