"""Registry implementation, part 01 — an order-preserving slice of the
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


SF_SMOKE = "/root/testdata/sf0.001"


#: scratch dirs created by queries this session; cleaned at process exit
#: (r5 ADVICE leak class, applied registry-wide: per-query stream sources /
#: checkpoints must not accumulate across repeated full-registry sweeps).
#: Cleanup is atexit, NOT eager — several batch queries return LAZY
#: DataFrames that still read from their scratch dir at collect() time.
_SCRATCH_DIRS: list[str] = []


def _scratch(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile as _tf

    d = _tf.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.append(d)
    return d




def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ingestion_scripts_spark.sources.readers import load_table

    return load_table(spark, sf_dir, name)


def _fmt_ts(col, with_micros: bool = False):
    pat = "yyyy-MM-dd HH:mm:ss.SSSSSS" if with_micros else "yyyy-MM-dd HH:mm:ss"
    return F.date_format(col, pat)


SQL_TS = "strftime({0}, '%Y-%m-%d %H:%M:%S')"
SQL_TS_US = "strftime({0}, '%Y-%m-%d %H:%M:%S.%f')"


def _arr_str(col):
    """Array column → '|'-joined scalar (never NULL: concat_ws yields ''
    for a NULL array). The driver's canonicalizer hashes cell values and
    cannot hash Python lists, so every array-typed RESULT column is projected
    through this on the Spark side and through ``SQL_ARR_STR`` in the oracle
    (CORRECTNESS_r01: 8 queries erred on `unhashable type: 'list'`)."""
    return F.concat_ws("|", F.transform(col, lambda x: x.cast("string")))


#: DuckDB twin of ``_arr_str`` — element-wise VARCHAR cast then join;
#: coalesced to '' to match Spark concat_ws's never-NULL contract.
SQL_ARR_STR = (
    "coalesce(array_to_string(list_transform({0}, x -> x::VARCHAR), '|'), '')".format
)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def _doc_tokens(docs: DataFrame) -> DataFrame:
    """documents → stopword-filtered tokens of cleaned text (F1+F5)."""
    return docs.select(
        "doc_id",
        X.remove_stopwords(X.tokenize_ws(X.clean_text(F.col("text")))).alias("t"),
    )


def q_flagship_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 over documents: per-doc top-5 canonical-bigram keywords."""
    docs = _t(spark, sf_dir, "documents")
    out = K.extract_keywords(_doc_tokens(docs), "doc_id", "t", k=5)
    return out.withColumn("keywords", _arr_str(F.col("keywords")))


_TOKS_SQL = O.sql_remove_stopwords(O.sql_tokenize_ws(O.sql_clean_text("text")))

SQL_FLAGSHIP = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
big AS (SELECT doc_id, unnest({O.sql_bigrams('t')}) AS bigram FROM toks),
counted AS (SELECT doc_id, bigram, count(*) AS cnt FROM big GROUP BY doc_id, bigram),
ranked AS (SELECT doc_id, bigram,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn
           FROM counted),
top AS (SELECT doc_id, list(bigram ORDER BY rn) AS bigs FROM ranked WHERE rn <= 5 GROUP BY doc_id),
flat AS (SELECT doc_id, flatten(list_transform(bigs, b -> string_split(b, ' '))) AS words FROM top)
SELECT doc_id,
  {SQL_ARR_STR("list_filter(words, (w, i) -> list_position(words, w) = i)")} AS keywords
FROM flat
"""




# ---------------------------------------------------------------------------
# TPC-H-ish relational core (scan/filter/agg/join surface, SURVEY §2.1-2.5)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS sum_qty,
  round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base_price,
  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped: revenue per BUILDING-segment order, deterministic top-10.

    The customer dim is broadcast — at 100 TB lineitem is the only big side.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )
    return rev


SQL_TOP_ORDERS = """
SELECT o_orderkey, round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped star join; all dims broadcast, lineitem streams through."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


SQL_REGION_REVENUE = """
SELECT r_name, n_name,
  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# J1 anti-join dedup / K4 dead-letter / P3 routing
# ---------------------------------------------------------------------------

# early cutoff: all 150 users appear within the first day, so a later
# cutoff would make the anti-join vacuously empty
CUTOFF = "2024-01-01 06:00:00"


def q_antijoin_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — events after the cutoff whose user was never seen before it
    (``remove_old_articles``, src/rss_consumer.py:68-74, key=user_id)."""
    ev = _t(spark, sf_dir, "events")
    existing = ev.filter(F.col("ts") < F.lit(CUTOFF)).select("user_id")
    incoming = ev.filter(F.col("ts") >= F.lit(CUTOFF))
    out = D.anti_join_dedup(incoming, existing, "user_id")
    return out.select("event_id", "user_id", "event_type").orderBy("event_id")


SQL_ANTIJOIN = f"""
SELECT event_id, user_id, event_type
FROM events e
WHERE ts >= TIMESTAMP '{CUTOFF}'
  AND NOT EXISTS (SELECT 1 FROM events x
                  WHERE x.ts < TIMESTAMP '{CUTOFF}' AND x.user_id = e.user_id)
ORDER BY event_id
"""


def q_dead_letter_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 + P3 — parse ``props`` (regex, null on failure), route rows into
    good/dead channels, count per (event_type, channel)."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), '"k":\\s*(\\d+)', 1).cast("int")
    channel = F.when(k.isNotNull() & (k < 90), F.lit("good")).otherwise(F.lit("dead"))
    return (
        ev.select("event_type", channel.alias("channel"))
        .groupBy("event_type", "channel")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "channel")
    )


SQL_DEAD_LETTER = """
SELECT event_type,
  CASE WHEN TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) < 90
       THEN 'good' ELSE 'dead' END AS channel,
  count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY event_type, channel
"""


# ---------------------------------------------------------------------------
# F-series scalar functions over documents
# ---------------------------------------------------------------------------

def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.clean_text(F.col("text")).alias("clean"))


SQL_CLEAN = f"SELECT doc_id, {O.sql_clean_text('text')} AS clean FROM documents"


def q_hashtags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 over a synthesized hashtag-bearing column (documents carry none)."""
    docs = _t(spark, sf_dir, "documents")
    tagged = F.concat(F.lit("#"), F.col("source"), F.lit(" "), F.col("text"),
                      F.lit(" #"), F.col("lang"))
    return docs.select("doc_id", _arr_str(X.extract_hashtags(tagged)).alias("hashtags"))


SQL_HASHTAGS = (
    "SELECT doc_id, "
    + SQL_ARR_STR(O.sql_hashtags("('#' || source || ' ' || text || ' #' || lang)"))
    + " AS hashtags FROM documents"
)


def q_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_tokens(_t(spark, sf_dir, "documents")).select(
        "doc_id", _arr_str(F.col("t")).alias("tokens")
    )


SQL_STOPWORD = f"SELECT doc_id, {SQL_ARR_STR(_TOKS_SQL)} AS tokens FROM documents"


def q_bigram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_tokens(_t(spark, sf_dir, "documents"))
    bigrams = F.transform(
        X.pairwise_bigrams(F.col("t")), lambda p: F.concat_ws(" ", p)
    )
    return toks.select("doc_id", _arr_str(bigrams).alias("bigrams"))


SQL_BIGRAM_PAIRS = (
    f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents) "
    f"SELECT doc_id, {SQL_ARR_STR(O.sql_bigrams('t'))} AS bigrams FROM toks"
)


# ---------------------------------------------------------------------------
# time functions (F7-F10) — format→parse round trips, oracle = identity
# ---------------------------------------------------------------------------

def q_parse_rfc822(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — RFC-822 strings (numeric offset for even keys, named zone for
    odd) parsed back with the reference's tz-branch logic."""
    orders = _t(spark, sf_dir, "orders")
    rfc = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.date_format("o_orderdate", "EEE, dd MMM yyyy HH:mm:ss Z"),
    ).otherwise(F.date_format("o_orderdate", "EEE, dd MMM yyyy HH:mm:ss zzz"))
    return orders.select(
        "o_orderkey", _fmt_ts(TF.parse_rfc822(rfc)).alias("published")
    ).orderBy("o_orderkey")


SQL_PARSE_RFC822 = (
    "SELECT o_orderkey, " + SQL_TS.format("o_orderdate") + " AS published "
    "FROM orders ORDER BY o_orderkey"
)


def q_parse_struct_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — 9-int struct_time list → timestamp (datetime(*x[:-2]))."""
    ev = _t(spark, sf_dir, "events")
    st = F.array(
        F.year("ts"), F.month("ts"), F.dayofmonth("ts"),
        F.hour("ts"), F.minute("ts"), F.second("ts"),
        F.lit(0), F.lit(0), F.lit(0),
    )
    return ev.select(
        "event_id", _fmt_ts(TF.struct_time_to_timestamp(st)).alias("published")
    ).orderBy("event_id")


SQL_PARSE_STRUCT_TIME = (
    "SELECT event_id, " + SQL_TS.format("date_trunc('second', ts)") + " AS published "
    "FROM events ORDER BY event_id"
)


def q_parse_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — '%Y-%m-%d %H:%M:%S' parse."""
    ev = _t(spark, sf_dir, "events")
    s = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    return ev.select(
        "event_id", _fmt_ts(TF.parse_simple(s)).alias("created")
    ).orderBy("event_id")


SQL_PARSE_SIMPLE = (
    "SELECT event_id, " + SQL_TS.format("date_trunc('second', ts)") + " AS created "
    "FROM events ORDER BY event_id"
)


def q_parse_zoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — '%Y-%m-%d %H:%M:%S%z' parse."""
    ev = _t(spark, sf_dir, "events")
    s = F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit("+00:00"))
    return ev.select(
        "event_id", _fmt_ts(TF.parse_zoned(s)).alias("created_at")
    ).orderBy("event_id")


SQL_PARSE_ZONED = (
    "SELECT event_id, " + SQL_TS.format("date_trunc('second', ts)") + " AS created_at "
    "FROM events ORDER BY event_id"
)


# ---------------------------------------------------------------------------
# relational surface widening: semi/outer joins, rollup, distinct, as-of
# ---------------------------------------------------------------------------

def q_semi_join_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with >=1 urgent open order."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O')
ORDER BY c_custkey
"""


def q_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped: left-outer join + two-level agg — how many customers
    placed k orders, INCLUDING the zero-order customers an inner join would
    drop."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_CUST_ORDER_DIST = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) revenue with grouping level — subtotals and a
    grand total in one pass (partial aggregation handles all levels)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.grouping_id().alias("lvl"),
        )
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


SQL_ROLLUP = """
SELECT r_name, n_name, round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
       grouping(r_name) * 2 + grouping(n_name) AS lvl
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (exact; the approx_count_distinct variant
    is engine-side only — sketches differ across engines)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


SQL_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-window form, operators/joins.py): each purchase
    event gets the same user's latest click at or before it."""
    from ingestion_scripts_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, on="user_id", right_values=[])
    return out.select(
        "event_id",
        "user_id",
        _fmt_ts(F.col("ts"), with_micros=True).alias("purchase_ts"),
        _fmt_ts(F.col("asof_ts"), with_micros=True).alias("last_click_ts"),
    ).orderBy("event_id")


SQL_ASOF = f"""
SELECT p.event_id, p.user_id,
  {SQL_TS_US.format('p.ts')} AS purchase_ts,
  {SQL_TS_US.format('''(SELECT max(c.ts) FROM events c
     WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts)''')}
    AS last_click_ts
FROM events p WHERE p.event_type = 'purchase'
ORDER BY p.event_id
"""


def q_purchase_error_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-banded range join (operators/joins.py::banded_interval_join —
    equi-join on (user, time bucket) + residual filter, never a per-key
    nested loop): errors within 1 hour after each purchase."""
    from ingestion_scripts_spark.operators.joins import banded_interval_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("ets")
    )
    joined = banded_interval_join(
        purchases, errors, on="user_id", left_ts="pts", right_ts="ets",
        window_seconds=3600,
    )
    return (
        joined.groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_errors_1h"))
        .orderBy("purchase_id")
    )


SQL_FUNNEL = """
SELECT l.event_id AS purchase_id, count(*) AS n_errors_1h
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id AND r.ts > l.ts
 AND r.ts <= l.ts + INTERVAL 3600 SECOND
GROUP BY l.event_id
ORDER BY purchase_id
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated scalar subquery, decorrelated as a pre-agg +
    broadcast join: lineitems under 50% of their part's average quantity.
    At 100 TB the per-part averages are a small aggregate joined broadcast;
    the naive correlated subquery would rescan lineitem per row."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part_avg), "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_SMALL_QTY = """
SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE / 7.0, 2) AS avg_yearly, count(*) AS n_items
FROM lineitem l
WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem x
                    WHERE x.l_partkey = l.l_partkey)
"""


def q_in_subquery_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (left-semi under the hood): parts that ship in
    return-flagged lineitems, counted by brand-ish prefix of name."""
    part = _t(spark, sf_dir, "part")
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        part.join(
            returned.select("l_partkey").dropDuplicates(["l_partkey"]),
            part.p_partkey == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("brand")
    )


SQL_IN_SUBQUERY = """
SELECT p_brand AS brand, count(*) AS n_parts
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY 1 ORDER BY brand
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approx_percentile sketch variant exists
    engine-side for the 100 TB path but is not oracle-comparable."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


SQL_PERCENTILES = """
SELECT event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_pivot_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per type x ISO weekday as columns (fixed pivot
    value list, so the plan is a single pass of conditional aggregates)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.dayofweek("ts").alias("dow"))
        .groupBy("event_type")
        .pivot("dow", list(range(1, 8)))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "event_type",
            *[F.col(str(d)).cast("bigint").alias(f"d{d}") for d in range(1, 8)],
        )
        .orderBy("event_type")
    )


SQL_PIVOT = (
    "SELECT event_type, "
    + ", ".join(
        # DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday
        f"CAST(count(*) FILTER (dayofweek(ts) = {d - 1}) AS BIGINT) AS d{d}"
        for d in range(1, 8)
    )
    + " FROM events GROUP BY event_type ORDER BY event_type"
)


def q_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite: running cumulative sum + centered-free 3-row
    moving average of value per user ordered by event time."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            4,
        )
        .cast("double")
        .alias("running_total"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .over(w.rowsBetween(-2, 0))
            .cast("double")
            / F.count(F.lit(1)).over(w.rowsBetween(-2, 0)),
            4,
        ).alias("mavg3"),
        F.rank().over(w).alias("rk"),
    ).orderBy("user_id", "event_id")


SQL_RUNNING = """
SELECT user_id, event_id,
  round(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING), 4)::DOUBLE AS running_total,
  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3,
  rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
FROM events WHERE user_id < 10
ORDER BY user_id, event_id
"""


def q_clicked_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (EXCEPT): users who clicked but had not purchased in
    the first four days (every user eventually purchases, so the un-windowed
    variant is vacuous)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("ts") < F.lit("2024-01-05"))
    ).select("user_id")
    return clickers.subtract(buyers).orderBy("user_id")  # EXCEPT (distinct)


SQL_EXCEPT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-05'
ORDER BY user_id
"""


def q_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape, adapted to this schema): orders
    with at least one lineitem shipped >60 days after the order date,
    counted per priority. Spark: LEFT SEMI join with a non-equi conjunct —
    the equi half (l_orderkey = o_orderkey) keeps it a shuffled hash join
    at any scale; the date predicate rides along as a join residual, so no
    cartesian blow-up and both sides stream through one shuffle."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("late_orders"))
        .orderBy("o_orderpriority")
    )


SQL_LATE_SHIP = """
SELECT o_orderpriority, count(*) AS late_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_parts_never_discounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS (TPC-H Q21/Q22 shape): parts that never
    shipped with a deep discount (>0.09), with their item count and
    revenue. Spark: LEFT ANTI against the distinct offender-key set —
    the offender side is pre-aggregated to distinct keys before the join,
    so the anti side shuffles |distinct parts| not |lineitem| rows."""
    li = _t(spark, sf_dir, "lineitem")
    offenders = (
        li.filter(F.col("l_discount") > 0.09).select("l_partkey").distinct()
    )
    return (
        li.join(offenders, "l_partkey", "left_anti")
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_partkey")
    )


SQL_PARTS_NEVER_DISC = """
SELECT l_partkey, count(*) AS n_items, round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM lineitem d
                  WHERE d.l_partkey = l.l_partkey AND d.l_discount > 0.09)
GROUP BY l_partkey
ORDER BY l_partkey
"""


def q_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles per user over event value (deterministic tie-break
    on event_id), then per-(user, quartile) stats. The window is
    PARTITIONED BY user_id — each user's sort runs in its own task, so the
    op scales horizontally; a GLOBAL ntile would funnel every row through
    one task and is deliberately avoided (the scale path for global
    quantiles is `value_percentiles`' boundary-based bucketing)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value"), F.col("event_id"))
    return (
        ev.select("user_id", "event_id", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("user_id", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
            TA.r4(F.avg("value")).alias("mean_value"),
        )
        .orderBy("user_id", "quartile")
    )


SQL_USER_QUARTILES = f"""
WITH t AS (
  SELECT user_id, event_id, value,
         ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS quartile
  FROM events)
SELECT user_id, quartile, count(*) AS n,
       round(min(value), 4) AS lo, round(max(value), 4) AS hi,
       {O.sql_r4('avg(value)')} AS mean_value
FROM t GROUP BY user_id, quartile
ORDER BY user_id, quartile
"""


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON payload decode (S1's decode step as a batch op):
    ``get_json_object`` pulls ``$.k`` out of the raw ``props`` JSON string,
    casts it, and aggregates per event type. JSON path evaluation is
    JVM-side (Jackson) inside codegen — no Python in the loop — and the
    narrow projection precedes the shuffle, so only (event_type, k) moves."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            TA.r4(F.avg("k")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


SQL_PROPS_EXTRACT = f"""
SELECT event_type, count(*) AS n,
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       {O.sql_r4("avg(json_extract(props, '$.k')::BIGINT)")} AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# extension: dedup family (SURVEY §2.9)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs.select("doc_id", "lang", "source"), ["lang", "source"], ["doc_id"])
        .orderBy("doc_id")
    )


SQL_EXACT_DEDUP = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
ORDER BY doc_id
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document segment-level exact dedup (the RefinedWeb/CCNet
    line-dedup step): drop every 8-word chunk that occurs verbatim in
    more than one document, reassemble survivors in order."""
    docs = _t(spark, sf_dir, "documents")
    return D.segment_dedup(docs, seg_words=8, max_docs=1).orderBy("doc_id")


SQL_SEGMENT_DEDUP = f"""
WITH toks AS (SELECT doc_id, {O.sql_tokenize_ws('text')} AS t FROM documents),
idx AS (SELECT doc_id, t,
               unnest(generate_series(0, (ceil(len(t)/8.0))::INT - 1)) AS i
        FROM toks),
seg AS (SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(t, i*8+1, i*8+8), ' ') AS seg
        FROM idx),
cnt AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY seg),
kept AS (SELECT s.doc_id, s.seg_idx, s.seg
         FROM seg s JOIN cnt c USING (seg) WHERE c.seg_df <= 1),
agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, (ceil(len(t)/8.0))::BIGINT AS n_seg FROM toks)
SELECT t.doc_id, coalesce(a.dedup_text, '') AS dedup_text, t.n_seg,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept
FROM tot t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).orderBy(
        "id_a", "id_b"
    )


_SH = O.sql_shingles("text", 3)
_SIG = O.sql_minhash_signature("sh", 16)
SQL_MINHASH = f"""
WITH sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
SELECT id_a, id_b,
  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        len(list_distinct(a.sh || b.sh)), 6) AS jaccard
FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            len(list_distinct(a.sh || b.sh)), 6) >= 0.8
ORDER BY id_a, id_b
"""


def q_cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate contamination ACROSS the train/eval boundary: the
    MinHash near-dup pipeline over the whole corpus, keeping only pairs
    whose members fall on OPPOSITE sides of the dataset_split hash rule —
    eval documents with a fuzzy twin in train leak benchmark signal that
    exact n-gram contamination checks miss. Same banded-LSH scaling law
    as minhash_near_dups; the split classification is a narrow map on the
    pair ids."""
    docs = _t(spark, sf_dir, "documents")
    near = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)

    def in_train(c):
        return (
            X.hash64(F.concat(F.lit("split:"), c.cast("string"))) % 100 < 80
        ).cast("int")

    out = (
        near.withColumn("a_train", in_train(F.col("id_a")))
        .withColumn("b_train", in_train(F.col("id_b")))
        .filter(F.col("a_train") != F.col("b_train"))
    )
    return out.select(
        F.when(F.col("a_train") == 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("eval_doc"),
        F.when(F.col("a_train") == 1, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("train_doc"),
        "jaccard",
    ).orderBy("eval_doc", "train_doc")


def _sql_cross_split_contamination() -> str:
    h = f"{O.sql_hash64(chr(39) + 'split:' + chr(39) + ' || {0}')} % 100 < 80".format
    return f"""
WITH near AS ({SQL_MINHASH}),
flagged AS (
  SELECT id_a, id_b, jaccard,
         CASE WHEN {h('id_a')} THEN 1 ELSE 0 END AS a_train,
         CASE WHEN {h('id_b')} THEN 1 ELSE 0 END AS b_train
  FROM near)
SELECT CASE WHEN a_train = 0 THEN id_a ELSE id_b END AS eval_doc,
       CASE WHEN a_train = 1 THEN id_a ELSE id_b END AS train_doc,
       jaccard
FROM flagged WHERE a_train <> b_train
ORDER BY eval_doc, train_doc
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


SQL_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, lang, {_SH} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        len(list_distinct(a.sh || b.sh)), 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            len(list_distinct(a.sh || b.sh)), 6) >= 0.5
ORDER BY id_a, id_b
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", D.simhash(F.col("text")).alias("fp")).orderBy("doc_id")


SQL_SIMHASH = (
    f"SELECT doc_id, {O.sql_simhash('text')} AS fp FROM documents ORDER BY doc_id"
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TA.fingerprint(F.col("text")).alias("fp")).orderBy(
        "doc_id"
    )


SQL_FINGERPRINT = (
    f"SELECT doc_id, {O.sql_hash64('text')} AS fp FROM documents ORDER BY doc_id"
)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (Schleimer et al. SIGMOD'03):
    min n-gram-hash per sliding window, deduped; sorted for canonical
    cross-engine order."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _arr_str(F.array_sort(TA.winnow_fingerprints(F.col("text")))).alias("fps"),
    ).orderBy("doc_id")


SQL_WINNOW = (
    f"SELECT doc_id, {SQL_ARR_STR(O.sql_winnow('text'))} AS fps "
    "FROM documents ORDER BY doc_id"
)


def q_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted COUNT(DISTINCT): exact, skew-proof — per-salt
    distinct counts partition the value space and sum to the true count
    (operators/skew.py). Oracle is the plain COUNT(DISTINCT)."""
    from ingestion_scripts_spark.operators.skew import salted_count_distinct

    ev = _t(spark, sf_dir, "events")
    return salted_count_distinct(
        ev, ["event_type"], "user_id", n_salts=16, out_col="n_users"
    ).orderBy("event_type")


SQL_SALTED_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-salt skew join (operators/skew.py): orders fanned across
    salts, customer dim replicated; result provably equals the plain join —
    the oracle IS the plain join."""
    from ingestion_scripts_spark.operators.skew import replicated_skew_join

    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = replicated_skew_join(orders, cust, on="c_custkey", n_salts=8,
                                  salt_src="o_orderkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


SQL_SKEW_JOIN = """
SELECT c_mktsegment, round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# extension: similarity search
# ---------------------------------------------------------------------------

def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return SIM.cosine_topk(queries, emb, k=10).orderBy("query_id", "rank")


_SQL_NORM = "sqrt(list_sum(list_transform(range(1, len({0}) + 1), i -> {0}[i] * {0}[i])))".format

SQL_EMBEDDING_TOPK = f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 50 = 0),
q AS (SELECT query_id, list_transform(v, x -> x / {_SQL_NORM('v')}) AS qv FROM q0),
c0 AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT match_id, list_transform(v, x -> x / {_SQL_NORM('v')}) AS cv FROM c0),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q, c WHERE query_id <> match_id),
ranked AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN (the scale path): exact cosine only
    within the query's sign-bit bucket. Deterministic md5-derived
    hyperplanes are embedded as literals on BOTH engines."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return SIM.lsh_ann_topk(queries, emb, dim=64, num_planes=6, k=5).orderBy(
        "query_id", "rank"
    )


_PLANES = SIM.hyperplanes(6, 64)


def _sql_lsh_ann() -> str:
    bq = O.sql_lsh_bucket("qv", _PLANES)
    bc = O.sql_lsh_bucket("cv", _PLANES)
    nrm = "sqrt(list_sum(list_transform(range(1, len({0}) + 1), i -> {0}[i] * {0}[i])))".format
    return f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 50 = 0),
q AS (SELECT query_id, qv, {bq} AS bucket FROM
      (SELECT query_id, list_transform(v, x -> x / {nrm('v')}) AS qv FROM q0)),
c0 AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT match_id, cv, {bc} AS bucket FROM
      (SELECT match_id, list_transform(v, x -> x / {nrm('v')}) AS cv FROM c0)),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q JOIN c USING (bucket) WHERE query_id <> match_id),
ranked AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (single-probe coarse cell, deterministic centroids) —
    the non-hashing scale path beside lsh_ann_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return SIM.ivf_ann_topk(queries, emb, dim=64, n_cells=8, k=5).orderBy(
        "query_id", "rank"
    )


_IVF_CENTS = SIM.ivf_centroids(8, 64)


def _sql_ivf_ann() -> str:
    cq = O.sql_ivf_cell("qv", _IVF_CENTS)
    cc = O.sql_ivf_cell("cv", _IVF_CENTS)
    nrm = "sqrt(list_sum(list_transform(range(1, len({0}) + 1), i -> {0}[i] * {0}[i])))".format
    return f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 50 = 0),
q AS (SELECT query_id, qv, {cq} AS cell FROM
      (SELECT query_id, list_transform(v, x -> x / {nrm('v')}) AS qv FROM q0)),
c0 AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT match_id, cv, {cc} AS cell FROM
      (SELECT match_id, list_transform(v, x -> x / {nrm('v')}) AS cv FROM c0)),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q JOIN c USING (cell) WHERE query_id <> match_id),
ranked AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: the ANN evaluation harness as a query. For
    each approximate index (LSH sign-bit buckets, IVF single-probe) the
    hit rate of its top-5 against the EXACT cosine top-10 — the
    recall/latency tradeoff quantified, per method, in one run. At scale
    this runs on a query sample; the joins are on (query, match) ids."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # persist the exact baseline: both rate() branches semi-join against
    # it, and its lineage is the full broadcast-query × corpus scan — the
    # single most expensive pass of the query, otherwise run twice
    # (optimization r14, guide §5: nq×10 ids cached, corpus never)
    exact = persist_tracked(
        SIM.cosine_topk(queries, emb, k=10).select("query_id", "match_id")
    )
    # fully lazy: the query count is a broadcast 1-row aggregate joined into
    # each rate (mirrors the oracle's nq CTE) — no Spark job fires at
    # build time (VERDICT r3 item 2)
    nq = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))

    def rate(approx: DataFrame, method: str) -> DataFrame:
        hits = approx.select("query_id", "match_id").join(
            exact, ["query_id", "match_id"]
        )
        return (
            hits.agg(F.count(F.lit(1)).alias("__hits"))
            .crossJoin(F.broadcast(nq))
            .select(
                F.lit(method).alias("method"),
                F.col("n_queries"),
                TA.r4(
                    F.col("__hits") / (F.col("n_queries") * F.lit(5.0))
                ).alias("hit_rate"),
            )
        )

    lsh = SIM.lsh_ann_topk(queries, emb, dim=64, num_planes=6, k=5)
    ivf = SIM.ivf_ann_topk(queries, emb, dim=64, n_cells=8, k=5)
    return rate(lsh, "lsh").unionByName(rate(ivf, "ivf")).orderBy("method")


def _sql_ann_recall() -> str:
    return f"""
WITH exact AS ({SQL_EMBEDDING_TOPK}),
lsh AS ({_sql_lsh_ann()}),
ivf AS ({_sql_ivf_ann()}),
nq AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 50 = 0),
h AS (
  SELECT 'lsh' AS method, count(*) AS hits
  FROM lsh a JOIN exact e USING (query_id, match_id)
  UNION ALL
  SELECT 'ivf' AS method, count(*) AS hits
  FROM ivf a JOIN exact e USING (query_id, match_id))
SELECT h.method, CAST(nq.n AS BIGINT) AS n_queries,
       {O.sql_r4('hits / (nq.n * 5.0)')} AS hit_rate
FROM h, nq ORDER BY method
"""


def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: k-means (2 Lloyd rounds,
    deterministic init) on the unit-normalized corpus replaces the fixed
    pseudo-random centroids of ivf_ann_topk — the production IVF build
    (train quantizer → assign cells → per-cell exact search). Same
    rounded-distance / lowest-id assignment as clustering.py on BOTH
    engines; the oracle re-trains the quantizer from scratch in SQL."""
    from ingestion_scripts_spark.operators.clustering import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    nv = (
        emb.select("vec_id", SIM._as_double(F.col("embedding")).alias("__v"))
        .withColumn("__n", SIM.norm(F.col("__v")))
        .select(
            "vec_id",
            F.transform(F.col("__v"), lambda x: x / F.col("__n")).alias("nv"),
        )
    )
    # the returned assignment runs over kmeans_fit's local-checkpointed
    # working set (a LogicalRDD — no InMemoryRelation, so the historical
    # columnar-cache pruning bug (AIOOBE on differently-pruned self-join
    # sides) that once forced a fresh un-cached assignment cannot trigger)
    cents, assigned = kmeans_fit(nv, "nv", "vec_id", k=8, iters=2)
    assigned = assigned.select(F.col("__id").alias("vec_id"), "v", "cluster_id")
    # tiny query side broadcast — join parallelism tracks the corpus
    # partitioning (load_table's spread), not the 8 cell keys
    corpus = assigned.select(
        F.col("vec_id").alias("match_id"), "cluster_id", F.col("v").alias("cv")
    )
    queries = assigned.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "cluster_id", F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(queries).join(corpus, "cluster_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(SIM.dot(F.col("qv"), F.col("cv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


def _sql_ivf_trained() -> str:
    from ingestion_scripts_spark.operators.clustering import sql_kmeans

    nrm = (
        "sqrt(list_sum(list_transform(range(1, len({0}) + 1), i -> {0}[i] * {0}[i])))"
    ).format
    normed = (
        "(SELECT vec_id, list_transform(v, x -> x / " + nrm("v")
        + ") AS nv FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))"
    )
    km = sql_kmeans(normed, "nv", "vec_id", k=8, iters=2, dim=64)
    return f"""
WITH assign AS (SELECT vec_id, cluster_id FROM ({km}) base),
nv AS (SELECT vec_id, nv FROM {normed} AS n),
j AS (SELECT a.vec_id, a.cluster_id, n.nv FROM assign a JOIN nv n USING (vec_id)),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         round({O.sql_dot('q.nv', 'c.nv', 'len(q.nv)')}, 6) AS sim
  FROM j q JOIN j c ON q.cluster_id = c.cluster_id AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0),
ranked AS (
  SELECT query_id, match_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, match_id ASC) AS BIGINT)
           AS rank
  FROM scored)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ivf_ann_topk_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN (probes=2): the query fans out to its two
    nearest coarse cells — recovering boundary-vector recall at 2x candidate
    cost. Corpus rows live in exactly one cell, so the probe union is
    dedup-free."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return SIM.ivf_ann_topk(queries, emb, dim=64, n_cells=8, k=5, probes=2).orderBy(
        "query_id", "rank"
    )


def _sql_ivf_ann_mp() -> str:
    cq = O.sql_ivf_probe_cells("qv", _IVF_CENTS, 2)
    cc = O.sql_ivf_cell("cv", _IVF_CENTS)
    nrm = "sqrt(list_sum(list_transform(range(1, len({0}) + 1), i -> {0}[i] * {0}[i])))".format
    return f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 50 = 0),
q AS (SELECT query_id, qv, unnest({cq}) AS cell FROM
      (SELECT query_id, list_transform(v, x -> x / {nrm('v')}) AS qv FROM q0)),
c0 AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT match_id, cv, {cc} AS cell FROM
      (SELECT match_id, list_transform(v, x -> x / {nrm('v')}) AS cv FROM c0)),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q JOIN c USING (cell) WHERE query_id <> match_id),
ranked AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (IVF-cell stand-in).

    Engine default is the vectorized numpy kernel (one BLAS gram matrix per
    block via applyInPandas — ~6x the HOF fold's throughput at sf0.1, and
    10-50x less CPU per pair at cluster scale); the fold twin below checks
    the same oracle, so both kernels stay hash-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.blocked_cosine_pairs_pandas(emb, "label", threshold=0.35).orderBy(
        "id_a", "id_b"
    )


def q_embedding_near_dup_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-HOF fold twin of embedding_near_dup (zip_with + aggregate dot
    products — sequential left fold, bit-identical to the DuckDB oracle's
    list fold). Kept oracle-checked as the all-JVM shadow of the numpy
    kernel; pytest additionally pins exact pairwise equality of the two."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.blocked_cosine_pairs(emb, "label", threshold=0.35).orderBy(
        "id_a", "id_b"
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH v0 AS (SELECT label, vec_id, embedding::DOUBLE[] AS r FROM embeddings),
v AS (SELECT label, vec_id,
             list_transform(r, x -> x / {_SQL_NORM('r')}) AS v FROM v0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({O.sql_dot('a.v', 'b.v', 'len(a.v)')}, 6) AS cos
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({O.sql_dot('a.v', 'b.v', 'len(a.v)')}, 6) >= 0.35
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# extension: text analysis
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TA.lang_id(F.col("text")).alias("lang_pred")).orderBy(
        "doc_id"
    )


SQL_LANG_ID = (
    f"SELECT doc_id, {O.sql_lang_id('text')} AS lang_pred FROM documents ORDER BY doc_id"
)


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q = TA.quality_score(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_chars"].cast("bigint").alias("n_chars"),
        q["n_tokens"].cast("bigint").alias("n_tokens"),
        q["mean_token_len"].alias("mean_token_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        q["stop_ratio"].alias("stop_ratio"),
        q["quality"].alias("quality"),
    ).orderBy("doc_id")


_Q = O.sql_quality("text")
SQL_QUALITY = (
    "SELECT doc_id, "
    + ", ".join(f"{_Q[c]} AS {c}" for c in
                ["n_chars", "n_tokens", "mean_token_len", "punct_ratio",
                 "digit_ratio", "stop_ratio", "quality"])
    + " FROM documents ORDER BY doc_id"
)


def q_vocab_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build — the tokenizer-training precursor: global
    term frequency + document frequency with a deterministic top-N
    (tf desc, term asc). The groupBy does map-side partial aggregation, so
    the shuffle carries one row per (partition, term), not per token; the
    final rank runs over the already-aggregated vocab table, which Heaps'
    law keeps sublinear in corpus size, so the single-task window is over
    the small side by construction."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(X.tokenize_ws(F.lower(F.col("text")))).alias("term"),
    )
    vocab = toks.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    # TakeOrdered the top-200 FIRST (distributed per-partition top-k), then
    # rank only the bounded 200-row result — the rank window never sees the
    # full vocab, so no single-partition pass over all distinct terms
    top = vocab.orderBy(F.col("tf").desc(), F.col("term")).limit(200)
    w = Window.orderBy(F.col("tf").desc(), F.col("term"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint")).orderBy(
        "rnk"
    )


SQL_VOCAB = f"""
WITH toks AS (
  SELECT doc_id, unnest({O.sql_tokenize_ws('lower(text)')}) AS term FROM documents),
vocab AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM toks GROUP BY term),
ranked AS (
  SELECT term, tf, df,
         row_number() OVER (ORDER BY tf DESC, term ASC) AS rnk
  FROM vocab)
SELECT term, tf, df, rnk FROM ranked WHERE rnk <= 200 ORDER BY rnk
"""


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: frozen-weight linear classifier (hard
    sigmoid) over the quality features — the 'fasttext keep/drop' stage of
    an LLM curation pipeline. Pure narrow map, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    qc = TA.quality_classify(F.col("text"))
    return docs.select(
        "doc_id",
        qc["gate_score"].alias("gate_score"),
        qc["keep"].alias("keep"),
    ).orderBy("doc_id")


_QG = O.sql_quality_classify("text")
SQL_QUALITY_GATE = (
    f"SELECT doc_id, {_QG['gate_score']} AS gate_score, {_QG['keep']} AS keep"
    " FROM documents ORDER BY doc_id"
)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TA.token_count_ws(F.col("text")).cast("bigint").alias("n_ws"),
        TA.token_count_bpe(F.col("text")).cast("bigint").alias("n_bpe"),
    ).orderBy("doc_id")


SQL_TOKEN_COUNTS = (
    f"SELECT doc_id, CAST(len({O.sql_tokenize_ws('text')}) AS BIGINT) AS n_ws, "
    f"{O.sql_token_count_bpe('text')} AS n_bpe FROM documents ORDER BY doc_id"
)


def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 — deterministic lexicon sentiment (vader-udf variant in tests)."""
    docs = _t(spark, sf_dir, "documents")
    s = S.sentiment_native(F.col("text"))
    return docs.select(
        "doc_id",
        s["negative"].alias("negative"),
        s["neutral"].alias("neutral"),
        s["positive"].alias("positive"),
        s["compound"].alias("compound"),
    ).orderBy("doc_id")


_SENT = O.sql_sentiment("text")
SQL_SENTIMENT = (
    "SELECT doc_id, "
    + ", ".join(f"{_SENT[c]} AS {c}" for c in ["negative", "neutral", "positive", "compound"])
    + " FROM documents ORDER BY doc_id"
)


# ---------------------------------------------------------------------------
# streaming-shaped batch analytics over events
# ---------------------------------------------------------------------------

def q_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (streaming §2.8 batch analog)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            _fmt_ts(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


SQL_HOURLY = (
    "SELECT " + SQL_TS.format("date_trunc('hour', ts)") + " AS window_start, "
    "event_type, count(*) AS n, round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS total_value "
    "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"
)


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) as a REAL streaming job, checked
    against the batch gaps-and-islands SQL: Spark's session_window merges
    events within the gap, so (user, session_start=min ts, session_end=
    max ts, n_events) must equal the island decomposition exactly."""
    from ingestion_scripts_spark.sources.readers import read_events_stream
    from ingestion_scripts_spark.streaming.streams import run_available_now

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _fmt_ts(F.min("ts"), with_micros=True).alias("session_start"),
            _fmt_ts(F.max("ts"), with_micros=True).alias("session_end"),
        )
    )
    out = run_available_now(
        agg, "memory", _scratch(prefix="ckpt_"), mode="complete",
        size_from=(f"{sf_dir}/events.parquet",),
    )
    return (
        out.select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


SQL_STREAM_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id,
  {SQL_TS_US.format("min(ts)")} AS session_start,
  {SQL_TS_US.format("max(ts)")} AS session_end,
  count(*) AS n_events
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_stream_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME hourly-window aggregation run as a REAL Structured Streaming
    job: parquet file source → readStream → window agg (complete mode) →
    memory sink, availableNow trigger. The oracle is the identical batch
    SQL — streaming and batch must agree exactly (§2.8)."""
    from ingestion_scripts_spark.sources.readers import read_events_stream
    from ingestion_scripts_spark.streaming.streams import run_available_now

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    out = run_available_now(
        agg, "memory", _scratch(prefix="ckpt_"), mode="complete",
        size_from=(f"{sf_dir}/events.parquet",),
    )
    return (
        out.select(
            _fmt_ts(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


SQL_STREAM_HOURLY = SQL_HOURLY


def q_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once under at-least-once replay, as a REAL streaming job:
    every event is emitted TWICE into the stream (simulated broker
    redelivery), streaming ``dropDuplicates`` state collapses the replays,
    and the per-type counts must equal the plain batch counts — the §2.8
    delivery-semantics guarantee made oracle-checkable. (Unbounded keyed
    state is fine under availableNow; the long-running variant is
    ``dropDuplicatesWithinWatermark``.)"""
    from ingestion_scripts_spark.sources.readers import read_events_stream
    from ingestion_scripts_spark.streaming.streams import run_available_now

    stream = read_events_stream(spark, sf_dir)
    doubled = stream.select(
        "event_id", "event_type",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("__replay"),
    )
    dedup = doubled.dropDuplicates(["event_id"]).select("event_id", "event_type")
    out = run_available_now(
        dedup, "memory", _scratch(prefix="ckpt_"),
        size_from=(f"{sf_dir}/events.parquet",),
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


SQL_STREAM_DEDUP = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
ORDER BY event_type
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization, 30-minute inactivity gap."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap test (unix_micros ↔ DuckDB epoch_us) — second
    # truncation would disagree with the oracle on sub-second boundaries
    gap = F.when(
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
        > 1_800_000_000,
        1,
    ).otherwise(0)
    flagged = ev.select("user_id", "ts", "event_id", gap.alias("new_s"))
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            _fmt_ts(F.min("ts"), with_micros=True).alias("session_start"),
            _fmt_ts(F.max("ts"), with_micros=True).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


SQL_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
    -- DuckDB windowed sum(int) is HUGEINT → float64 in pandas; Spark emits
    -- int64 — cast so the driver's value hash agrees (r1 hash mismatch)
    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id,
  {SQL_TS_US.format("min(ts)")} AS session_start,
  {SQL_TS_US.format("max(ts)")} AS session_end,
  count(*) AS n_events
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# the reference's three pipeline topologies (SURVEY §3), driven end-to-end
# over record-shaped inputs synthesized deterministically from documents
# ---------------------------------------------------------------------------

#: deterministic per-doc timestamp: 2024-03-01T08:30:00Z + doc_id * 3671 s
_EPOCH0 = 1709281800


def _doc_ts(spark_side: bool = True):
    return F.timestamp_seconds(F.lit(_EPOCH0) + F.col("doc_id") * 3671)


_SQL_DOC_TS = (
    "(TIMESTAMP '2024-03-01 08:30:00' + to_seconds(doc_id * 3671))"
)


def q_twitter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twitter topology end-to-end (src/twitter_consumer.py): sentiment N1 →
    demojize F3 (identity: no emoji lib) → hashtags F2 → zoned parse F10."""
    from ingestion_scripts_spark.plans.pipelines import twitter_pipeline

    docs = _t(spark, sf_dir, "documents")
    tweets = docs.select(
        F.col("doc_id").alias("tweet_id"),
        F.concat(F.lit("#"), F.col("source"), F.lit(" "), F.col("text")).alias("text"),
        F.concat(
            F.date_format(_doc_ts(), "yyyy-MM-dd HH:mm:ss"), F.lit("+00:00")
        ).alias("created_at"),
        F.col("lang").alias("trend"),
    )
    out = twitter_pipeline(tweets)
    return out.select(
        "tweet_id",
        F.col("sentiment.compound").alias("compound"),
        _arr_str(F.col("hashtags")).alias("hashtags"),
        _fmt_ts(F.col("created_at_ts")).alias("created_ts"),
    ).orderBy("tweet_id")


_TW_TEXT = "('#' || source || ' ' || text)"
_TW_SENT = O.sql_sentiment(_TW_TEXT)
SQL_TWITTER_PIPELINE = (
    f"SELECT doc_id AS tweet_id, {_TW_SENT['compound']} AS compound, "
    f"{SQL_ARR_STR(O.sql_hashtags(_TW_TEXT))} AS hashtags, "
    + SQL_TS.format(_SQL_DOC_TS)
    + " AS created_ts FROM documents ORDER BY tweet_id"
)


def q_reddit_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reddit topology end-to-end (src/reddit_consumer.py): N1 title
    sentiment + N2 per-comment sentiment → F3/F1 demojize+clean → F5/F6/A1/A2
    keywords → F9 date parse."""
    from ingestion_scripts_spark.plans.pipelines import reddit_pipeline

    docs = _t(spark, sf_dir, "documents")
    posts = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("title"),
        F.array(F.struct(F.col("text").alias("text"))).alias("comments"),
        F.date_format(_doc_ts(), "yyyy-MM-dd HH:mm:ss").alias("created"),
    )
    out = reddit_pipeline(posts)
    return out.select(
        "id",
        F.col("sentiment.compound").alias("title_compound"),
        F.element_at("comments", 1)["sentiment"]["compound"].alias("c0_compound"),
        _arr_str(F.col("keywords")).alias("keywords"),
        _fmt_ts(F.col("created_ts")).alias("created_ts"),
    ).orderBy("id")


_RD_TITLE_SENT = O.sql_sentiment("source")
_RD_COMMENT_SENT = O.sql_sentiment("text")
SQL_REDDIT_PIPELINE = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
big AS (SELECT doc_id, unnest({O.sql_bigrams('t')}) AS bigram FROM toks),
counted AS (SELECT doc_id, bigram, count(*) AS cnt FROM big GROUP BY doc_id, bigram),
ranked AS (SELECT doc_id, bigram,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn
           FROM counted),
top AS (SELECT doc_id, list(bigram ORDER BY rn) AS bigs FROM ranked WHERE rn <= 5 GROUP BY doc_id),
flat AS (SELECT doc_id, flatten(list_transform(bigs, b -> string_split(b, ' '))) AS words FROM top),
kw AS (SELECT doc_id, list_filter(words, (w, i) -> list_position(words, w) = i) AS keywords FROM flat)
SELECT d.doc_id AS id,
  {_RD_TITLE_SENT['compound']} AS title_compound,
  {_RD_COMMENT_SENT['compound']} AS c0_compound,
  {SQL_ARR_STR('kw.keywords')} AS keywords,
  {SQL_TS.format(_SQL_DOC_TS.replace("doc_id", "d.doc_id"))} AS created_ts
FROM documents d LEFT JOIN kw ON d.doc_id = kw.doc_id
ORDER BY id
"""


def q_rss_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS topology end-to-end (src/rss_consumer.py): J1 anti-join dedup →
    P3 html/text routing → N3 keywords+summary (native substitutes) → P4
    summary backfill → F7/F8 date-branch normalization."""
    from ingestion_scripts_spark.plans.pipelines import rss_pipeline

    docs = _t(spark, sf_dir, "documents")
    ts = _doc_ts()
    feeds = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("L"), F.col("doc_id")).alias("link"),
        F.col("source").alias("title"),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))
        ).otherwise(F.col("text")).alias("content"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<b>"), F.col("source"), F.lit(" digest</b>")),
        ).alias("summary"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss"), F.lit(" +0000")))
        .otherwise(F.concat(F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss"), F.lit(" UTC")))
        .alias("published"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.array(
                F.year(ts), F.month(ts), F.dayofmonth(ts),
                F.hour(ts), F.minute(ts), F.second(ts),
                F.lit(0), F.lit(0), F.lit(0),
            ),
        ).alias("published_parsed"),
    )
    existing = feeds.filter(F.col("doc_id") % 7 == 0).select("link")
    # S4 — the per-record HTTP fetch, modeled offline as a join against a
    # pre-fetched (link, content) table (SURVEY §2.1 S4): every 11th doc
    # has a fetched body that overrides the feed's own content
    fetched = docs.filter(F.col("doc_id") % 11 == 0).select(
        F.concat(F.lit("L"), F.col("doc_id")).alias("link"),
        F.concat(F.lit("fetched "), F.col("text")).alias("content"),
    )
    out = rss_pipeline(feeds.drop("doc_id"), existing, fetched_content=fetched)
    return out.select(
        "link",
        _arr_str(F.col("tags")).alias("tags"),
        "summary",
        _fmt_ts(F.col("published_ts")).alias("published"),
    ).orderBy("link")


# The oracle reproduces the ENGINE's routing predicate (P3: strip HTML iff
# the post-fetch content matches '<[^>]+>', plans/pipelines.py:66-75) rather
# than mirroring the synthetic doc_id%3/%11 input arithmetic — any raw text
# containing an HTML-like tag routes identically on both engines.
SQL_RSS_PIPELINE = f"""
WITH feed AS (
  SELECT doc_id, 'L' || doc_id AS link, source,
    CASE WHEN doc_id % 11 = 0 THEN 'fetched ' || text
         WHEN doc_id % 3 = 0 THEN '<p>' || text || '</p>'
         ELSE text END AS content
  FROM documents WHERE doc_id % 7 <> 0),
routed AS (
  SELECT doc_id, link, source,
    CASE WHEN content IS NOT NULL AND content <> ''
              AND NOT regexp_matches(content, '<[^>]+>')
         THEN content ELSE {O.sql_html_strip('content')} END AS content
  FROM feed)
SELECT link,
  {SQL_ARR_STR(O.sql_keywords_native('content'))} AS tags,
  CASE WHEN doc_id % 2 = 0
       THEN {O.sql_html_strip("('<b>' || source || ' digest</b>')")}
       ELSE {O.sql_summary('content')} END AS summary,
  {SQL_TS.format(_SQL_DOC_TS)} AS published
FROM routed ORDER BY link
"""


# ---------------------------------------------------------------------------
# extension: multimodal plumbing (binary columns; decode stubbed — see
# operators/multimodal.py tests)
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).cast("bigint").alias("n_bytes"),
        X.hash64(F.col("text")).alias("content_hash"),
    ).orderBy("doc_id")


SQL_MULTIMODAL = (
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
    f"{O.sql_hash64('text')} AS content_hash FROM documents ORDER BY doc_id"
)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multimodal path — binary payload → Arrow-batched mapInPandas
    decode (operators/multimodal.py) — differential-tested against SQL: the
    deterministic fake decoder derives features from md5 bytes, which the
    oracle recomputes. Features are mapped back to their exact byte values
    (int) so float32 Arrow transport cannot introduce rounding flips."""
    from ingestion_scripts_spark.operators.multimodal import (
        extract_features,
        text_to_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = text_to_media(docs)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "digest",
        _arr_str(
            F.transform(F.col("feature"), lambda x: F.round(x * 255).cast("int"))
        ).alias("feature_bytes"),
    ).orderBy("media_id")


SQL_MULTIMODAL_FEATURES = f"""
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS digest,
  {SQL_ARR_STR(
      "list_transform(range(0, 8),"
      " i -> CAST(('0x' || substr(md5(text), i*2 + 1, 2)) AS INT))"
  )} AS feature_bytes
FROM documents ORDER BY media_id
"""


__all__ = [n for n in globals() if not n.startswith("__")]
