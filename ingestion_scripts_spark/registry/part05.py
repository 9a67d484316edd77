"""Registry implementation, part 05 — an order-preserving slice of the
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

from ingestion_scripts_spark.registry.part04 import *  # noqa: F401,F403



def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars-per-token and tokens-per-
    word under the BPE-ish tokenizer — THE metric for how well a
    tokenizer serves each language (high fertility = wasted context
    budget). All sums are exact BIGINTs; only the final ratios are
    float, computed from identical integers on both engines."""
    docs = _t(spark, sf_dir, "documents")
    rows = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        TA.token_count_bpe(F.col("text")).cast("bigint").alias("n_bpe"),
        F.size(X.tokenize_ws(F.col("text"))).cast("bigint").alias("n_words"),
    )
    return (
        rows.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
            F.sum("n_words").cast("bigint").alias("words"),
            TA.r4(F.sum("n_chars") / F.greatest(F.sum("n_bpe"), F.lit(1))).alias(
                "chars_per_token"
            ),
            TA.r4(F.sum("n_bpe") / F.greatest(F.sum("n_words"), F.lit(1))).alias(
                "fertility"
            ),
        )
        .orderBy("lang")
    )


SQL_TOKENIZER_FERTILITY = f"""
WITH rows_ AS (
  SELECT lang, length(text)::BIGINT AS n_chars,
         {O.sql_token_count_bpe('text')} AS n_bpe,
         len({O.sql_tokenize_ws('text')})::BIGINT AS n_words
  FROM documents)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS chars,
       sum(n_bpe)::BIGINT AS bpe_tokens,
       sum(n_words)::BIGINT AS words,
       {O.sql_r4('sum(n_chars)::DOUBLE / greatest(sum(n_bpe), 1)')} AS chars_per_token,
       {O.sql_r4('sum(n_bpe)::DOUBLE / greatest(sum(n_words), 1)')} AS fertility
FROM rows_ GROUP BY lang ORDER BY lang
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified holdout: within each lang, docs rank by hash64
    (deterministic shuffle) and every 5th ranked doc is eval — EXACTLY
    20% per stratum (hash-threshold splits like ``dataset_split`` only
    hit the rate in expectation, which matters when a stratum is small).
    One window shuffle keyed by lang."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        X.hash64(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id",
            "lang",
            F.when(F.col("rnk") % 5 == 0, F.lit("eval"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


SQL_STRATIFIED_SPLIT = f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY
           {O.sql_hash64("('strat:' || doc_id)")}, doc_id) AS rnk
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN rnk % 5 = 0 THEN 'eval' ELSE 'train' END AS split
FROM r ORDER BY doc_id
"""


def q_heavy_hitter_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality harness (completes the family with ``ann_recall``
    and ``dedup_recall``): exact top-20 users by event count vs the CMS
    top-20 — overlap, recall, and the worst overestimate among the CMS
    picks (CMS never undercounts, so overestimate ≥ 0 is an invariant).
    One-row report; the exact side is itself a keyed agg + bounded
    top-k."""
    from ingestion_scripts_spark.operators.sketches import cms_estimate, cms_sketch

    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ex20 = exact.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(20)
    cms20 = (
        cms_estimate(cms_sketch(ev, "user_id"), ev.select("user_id").distinct(),
                     "user_id", out_col="est_count")
        .orderBy(F.col("est_count").desc(), F.col("user_id").asc())
        .limit(20)
    )
    ov = ex20.join(cms20, "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap")
    )
    mo = cms20.join(exact, "user_id").agg(
        F.max(F.col("est_count") - F.col("n")).cast("bigint").alias("max_overestimate")
    )
    return ov.crossJoin(mo).select(
        "n_overlap",
        TA.r4(F.col("n_overlap") / F.lit(20.0)).alias("recall"),
        "max_overestimate",
    )


def _sql_heavy_hitter_recall() -> str:
    from ingestion_scripts_spark.operators.sketches import sql_cms_estimate

    inner = sql_cms_estimate("events", "user_id", out_col="est_count")
    return f"""
WITH exact AS (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id),
ex20 AS (SELECT user_id FROM exact ORDER BY n DESC, user_id LIMIT 20),
cms AS (SELECT CAST(__k AS BIGINT) AS user_id, est_count FROM ({inner})),
cms20 AS (SELECT user_id, est_count FROM cms
          ORDER BY est_count DESC, user_id LIMIT 20)
SELECT
  (SELECT count(*) FROM ex20 JOIN cms20 USING (user_id))::BIGINT AS n_overlap,
  {O.sql_r4('(SELECT count(*) FROM ex20 JOIN cms20 USING (user_id)) / 20.0')} AS recall,
  (SELECT max(est_count - n) FROM cms20 JOIN exact USING (user_id))::BIGINT
    AS max_overestimate
"""


def q_path_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step path-motif mining over each user's event stream (funnel
    discovery beyond the first-order ``event_transitions``): two leads in
    one per-user window pass, then a keyed count and a bounded top-10.
    Spark ``F.concat`` NULL-propagates exactly like the oracle's ``||``,
    so stream-tail windows (missing leads) drop identically on both
    engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat(
        F.col("event_type"),
        F.lit(">"),
        F.lead("event_type", 1).over(w),
        F.lit(">"),
        F.lead("event_type", 2).over(w),
    )
    return (
        ev.select(path.alias("path"))
        .where(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(10)
    )


SQL_PATH_MOTIFS = """
WITH p AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER w
         || '>' || lead(event_type, 2) OVER w AS path
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT path, count(*)::BIGINT AS n
FROM p WHERE path IS NOT NULL
GROUP BY path ORDER BY n DESC, path LIMIT 10
"""


#: ONE literal ANSI string executed VERBATIM by both engines — the
#: spark.sql front door (catalog.register_testdata) and the DuckDB oracle
#: run the identical text, so this query certifies dialect-portability of
#: the whole path: catalog → parser → optimizer → execution.
SQL_PORTABLE = """
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= DATE '1995-01-01'
  AND o.o_orderdate < DATE '1996-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
"""


def q_sql_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door end-to-end: testdata registered as temp views
    (``catalog.register_testdata``), then ``spark.sql`` runs the SAME
    literal string the DuckDB oracle runs — zero dialect translation.
    Catalyst plans it identically to the DataFrame form (broadcast dims,
    partial aggs), which PLANS.md documents for the star-join family."""
    from ingestion_scripts_spark.catalog import register_testdata

    register_testdata(spark, sf_dir)
    return spark.sql(SQL_PORTABLE)


def q_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation: per-user daily purchase value on
    the dense calendar grid, silent days interpolated between the
    surrounding observed days — the imputation step between gap-fill
    (zeros) and modeling. The carried values come from `ignorenulls`
    running windows (last-before / first-after), so one keyed window
    shuffle serves both directions; observed day sums accumulate as
    DECIMAL, and the interpolation weight is a ratio of exact day
    counts."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("v")
    )
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    cal = spans.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    g = cal.join(daily, ["user_id", "day"], "left")
    wp = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    pv = F.last("v", ignorenulls=True).over(wp)
    pd_ = F.last(obs_day, ignorenulls=True).over(wp)
    nv = F.first("v", ignorenulls=True).over(wn)
    nd = F.first(obs_day, ignorenulls=True).over(wn)
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        pv + (nv - pv) * F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_)
    )
    return (
        g.select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            TA.r4(interp).alias("value"),
            F.when(F.col("v").isNotNull(), 1).otherwise(0).cast("int").alias(
                "is_observed"
            ),
        )
        .orderBy("user_id", "day")
    )


SQL_LINEAR_INTERPOLATION = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
spans AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
cal AS (
  SELECT user_id,
         unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                INTERVAL 1 DAY))::DATE AS day
  FROM spans),
g AS (
  SELECT c.user_id, c.day, d.v
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day),
filled AS (
  SELECT user_id, day, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
           OVER wp AS pd,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
           OVER wn AS nd
  FROM g
  WINDOW wp AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       {O.sql_r4("CASE WHEN v IS NOT NULL THEN v ELSE pv + (nv - pv) * date_diff('day', pd, day) / date_diff('day', pd, nd) END")} AS value,
       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_observed
FROM filled ORDER BY user_id, day
"""


def q_bloom_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned big-big join (operators/bloom.py): orders join a
    filtered customer segment, but the probe side is Bloom-filtered
    BEFORE its shuffle — the bitmap (≤ m/64 longs, 1-row broadcast)
    removes ~4/5 of the order rows pre-exchange; the exact join scrubs
    the bitmap's false positives, so the result is bit-identical to the
    plain join (which IS the oracle). The explicit form of Spark's
    runtime bloom-filter injection, as a composable operator."""
    from ingestion_scripts_spark.operators.bloom import bloom_pruned_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderpriority", "o_totalprice"
    )
    seg = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    return (
        bloom_pruned_join(orders, seg, "c_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


SQL_BLOOM_JOIN = """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal RESIZE path (operators/multimodal.py::resize_images):
    binary payloads through Arrow-batched mapInPandas with the pluggable
    (here deterministic-fake, honestly labeled) resize kernel — 8×8
    output. The oracle recomputes the fake kernel's exact bytes
    (md5-digest cycle truncated to w·h) and compares the full hex, so the
    whole Arrow binary round-trip is value-checked, not just row counts."""
    from ingestion_scripts_spark.operators.multimodal import (
        resize_images,
        text_to_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = text_to_media(docs)
    resized = resize_images(media, width=8, height=8)
    return resized.select(
        "media_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.lower(F.hex("payload")).alias("payload_hex"),
        F.col("meta.width").cast("int").alias("width"),
        F.col("meta.height").cast("int").alias("height"),
    ).orderBy("media_id")


#: fake_resize emits (md5_digest_bytes cycled)[:w*h]; 8*8 = 64 = 4 whole
#: 16-byte digests, so the hex is exactly repeat(md5_hex, 4)
SQL_MULTIMODAL_RESIZE = """
SELECT doc_id AS media_id,
       CAST(64 AS BIGINT) AS n_bytes,
       repeat(md5(text), 4) AS payload_hex,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height
FROM documents ORDER BY media_id
"""


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session LAST-touch attribution (the completeness twin of
    ``first_touch_attribution``): every purchase credits the most recent
    click AT-OR-BEFORE it within its 30-min-gap session — a running
    ``last(..., ignorenulls)`` over the session-scoped ordered frame, so
    clicks after the purchase never attribute (unlike first-touch's
    whole-session scan, which is the deliberate difference)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
    new_s = F.when(gap > 1_800_000_000, 1).otherwise(0)
    sess = ev.withColumn(
        "sid",
        F.sum(F.when(F.lag("ts").over(wu).isNull(), 0).otherwise(new_s)).over(
            wu.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = (
        Window.partitionBy("user_id", "sid")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(ws)
    return (
        sess.withColumn("lc", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.coalesce(F.col("lc"), F.lit(-1)).cast("bigint").alias(
                "attributed_click_id"
            ),
        )
        .orderBy("purchase_id")
    )


SQL_LAST_TOUCH = """
WITH flagged AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL THEN 0
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged),
lc AS (
  SELECT *, last_value(CASE WHEN event_type = 'click' THEN event_id END
                       IGNORE NULLS)
            OVER (PARTITION BY user_id, sid ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcid
  FROM sess)
SELECT event_id AS purchase_id,
       CAST(coalesce(lcid, -1) AS BIGINT) AS attributed_click_id
FROM lc WHERE event_type = 'purchase'
ORDER BY purchase_id
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection (the OOD-filtering curation op):
    distance to the corpus centroid, top-20 farthest vectors. The
    centroid is EXACT — components snap to int64 micro-units, sum as
    integers, divide with integer ``div`` (the k-means re-centering law)
    — so every engine/partitioning computes the identical centroid; the
    squared distance then snaps to micro-units for an integer-exact
    ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    snapped = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("eu"),
    )
    # component-wise exact sums: explode (index, value), groupBy index
    comp = (
        snapped.select(F.posexplode("eu").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n"))
        .select("i", F.expr("s div n").alias("c"))
    )
    cent = comp.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic")
    ).select(F.transform("ic", lambda s: s["c"]).alias("cent"))
    d2u = F.aggregate(
        F.zip_with(
            F.col("eu"), F.col("cent"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        snapped.crossJoin(F.broadcast(cent))
        .select("vec_id", d2u.alias("d2_u"))
        .orderBy(F.col("d2_u").desc(), F.col("vec_id").asc())
        .limit(20)
        .select(
            "vec_id",
            "d2_u",
            TA.r4(F.sqrt(F.col("d2_u") / F.lit(1e12))).alias("dist"),
        )
    )


SQL_EMBEDDING_OUTLIERS = f"""
WITH snapped AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           AS eu
  FROM embeddings),
comp AS (
  SELECT i, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(eu) AS v,
               unnest(range(1, len(eu) + 1)) AS i
        FROM snapped)
  GROUP BY i),
cent AS (SELECT list(c ORDER BY i) AS cent FROM comp),
scored AS (
  SELECT vec_id,
         CAST(list_aggregate(
           list_transform(range(1, len(eu) + 1),
             j -> (eu[j] - cent[j]) * (eu[j] - cent[j])), 'sum') AS BIGINT)
           AS d2_u
  FROM snapped, cent)
SELECT vec_id, d2_u, {O.sql_r4('sqrt(d2_u / 1000000000000.0)')} AS dist
FROM scored ORDER BY d2_u DESC, vec_id LIMIT 20
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve: per document, the fraction of its 3-gram shingles
    FIRST seen in that document (ingest order = doc_id) — how much new
    material each document adds, the diversity-over-time diagnostic for
    dataset ordering and dedup tuning. First-seen is a per-shingle
    min(doc_id) aggregate joined back; both counts exact BIGINTs."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(D.shingles(F.col("text"), 3)).alias("s")
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            TA.r4(
                F.coalesce("n_novel", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1))
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


SQL_NGRAM_NOVELTY = f"""
WITH sh AS (
  SELECT doc_id, unnest({O.sql_shingles('text', 3)}) AS s FROM documents),
first_ AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
per AS (
  SELECT sh.doc_id,
         count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT
           AS n_novel
  FROM sh JOIN first_ USING (s) GROUP BY sh.doc_id)
SELECT d.doc_id,
       coalesce(per.n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(per.n_novel, 0)::BIGINT AS n_novel,
       {O.sql_r4('coalesce(per.n_novel, 0) / greatest(coalesce(per.n_shingles, 0), 1)')}
         AS novelty
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation: per user, Recency (latest purchase ts),
    Frequency (purchase count) and Monetary (DECIMAL-exact value sum)
    each scored 1-5 by ``ntile(5)`` over a TOTAL order (metric + user_id
    tiebreak, so tile boundaries are engine-deterministic), composed into
    the classic 3-digit segment code. Three metrics from ONE keyed agg;
    the ntile windows run over the already-aggregated per-user table."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    per = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    r = F.ntile(5).over(Window.orderBy(F.col("last_us").asc(), F.col("user_id").asc()))
    f = F.ntile(5).over(Window.orderBy(F.col("freq").asc(), F.col("user_id").asc()))
    m = F.ntile(5).over(
        Window.orderBy(F.col("monetary").asc(), F.col("user_id").asc())
    )
    return (
        per.select(
            "user_id",
            "freq",
            "monetary",
            r.cast("int").alias("r_score"),
            f.cast("int").alias("f_score"),
            m.cast("int").alias("m_score"),
        )
        .withColumn(
            "segment",
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ),
        )
        .orderBy("user_id")
    )


SQL_RFM_SEGMENTS = """
WITH per AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us,
         count(*)::BIGINT AS freq,
         round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
scored AS (
  SELECT user_id, freq, monetary,
         CAST(ntile(5) OVER (ORDER BY last_us, user_id) AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY freq, user_id) AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS INT) AS m_score
  FROM per)
SELECT user_id, freq, monetary, r_score, f_score, m_score,
       r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
FROM scored ORDER BY user_id
"""


def q_textrank_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-scoring summarizer (VERDICT r3 item 8): the
    newspaper3k-fidelity twin of the first-k-sentences ``summary_native``
    (reference ``rss_consumer.py:112-116`` ``article.nlp()``). Sentence
    score = exact integer Σ of doc-level term frequencies over the
    sentence's stopword-filtered tokens; top-2 by (score DESC, position
    ASC) emitted in document order. The whole law is integer + fixed
    regexes → hash-exact across engines; the oracle re-derives every
    stage as CTEs."""
    from ingestion_scripts_spark.functions.nlp import frequency_rank_summary

    docs = _t(spark, sf_dir, "documents")
    out = frequency_rank_summary(docs, "doc_id", "text", k_sentences=2)
    return out.orderBy("doc_id")


def _sql_textrank_summary() -> str:
    from ingestion_scripts_spark.functions.nlp import SENTENCE_PATTERN

    toks = O.sql_remove_stopwords(
        O.sql_tokenize_ws(O.sql_clean_text("e.sent"))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, {O.sq(SENTENCE_PATTERN)}),
                        s -> trim(s)) AS sents
  FROM documents),
ex AS (
  SELECT doc_id, u.pos AS pos, u.sent AS sent
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(sents) + 1),
                      i -> struct_pack(pos := i, sent := sents[i]))) AS u
        FROM base)),
tk AS (SELECT e.doc_id, e.pos, unnest({toks}) AS w FROM ex e),
tf AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY 1, 2),
scored AS (
  SELECT t.doc_id, t.pos, sum(f.c) AS score
  FROM tk t JOIN tf f USING (doc_id, w) GROUP BY 1, 2),
ranked AS (
  SELECT e.doc_id, e.pos, e.sent,
         row_number() OVER (PARTITION BY e.doc_id
                            ORDER BY coalesce(s.score, 0) DESC, e.pos ASC) AS rn
  FROM ex e LEFT JOIN scored s ON e.doc_id = s.doc_id AND e.pos = s.pos),
sel AS (
  SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS summary
  FROM ranked WHERE rn <= 2 GROUP BY doc_id)
SELECT d.doc_id, coalesce(sel.summary, '') AS summary
FROM documents d LEFT JOIN sel ON d.doc_id = sel.doc_id
ORDER BY d.doc_id
"""


#: literal SQL PIPE syntax (Spark 4 operator pipelines) executed verbatim
#: by spark.sql — the |> form of the portable star query
SQL_PIPE_LITERAL = """
FROM orders o
|> JOIN customer c ON o.o_custkey = c.c_custkey
|> WHERE o.o_orderdate >= DATE '1995-01-01'
   AND o.o_orderdate < DATE '1996-01-01'
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
     CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
       AS revenue
   GROUP BY c.c_mktsegment AS segment
|> ORDER BY segment
"""

SQL_PIPE_FRONT_DOOR = """
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderdate >= DATE '1995-01-01'
  AND o.o_orderdate < DATE '1996-01-01'
GROUP BY c.c_mktsegment
ORDER BY segment
"""


def q_sql_pipe_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax end-to-end: the literal ``|>`` operator
    pipeline above runs verbatim through ``spark.sql`` against catalog temp
    views; the oracle runs the equivalent ANSI form. Catalyst lowers both
    to the same star-join plan (broadcast dims, partial aggs) — this
    certifies the pipe FRONT DOOR, the sql_front_door twin for the syntax
    Spark 4 positions for incremental query building."""
    from ingestion_scripts_spark.catalog import register_testdata

    register_testdata(spark, sf_dir)
    return spark.sql(SQL_PIPE_LITERAL)


def q_stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store DATA SOURCE: after a keyed streaming aggregation
    checkpoints, ``spark.read.format("statestore")`` reads the operator's
    state back as a batch DataFrame — the ops/debugging surface for
    inspecting (and auditing) live streaming state without stopping the
    job. The law: the state rows of a completed per-type count over the
    events stream must equal the plain batch GROUP BY — state IS the
    aggregate. Scale: the state source reads the checkpoint's HDFS-backed
    store partition-parallel; no driver materialization."""
    from ingestion_scripts_spark.sources.readers import read_events_stream
    from ingestion_scripts_spark.streaming.streams import run_available_now

    stream = read_events_stream(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ckpt = _scratch(prefix="ckpt_statereader_")
    # the statestore read below lists whatever partition layout the query
    # wrote, so the law is layout-invariant
    run_available_now(
        counts, "memory", ckpt, mode="complete",
        size_from=(f"{sf_dir}/events.parquet",),
    )
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# r4 batch 2: string-similarity join, itemset mining, graph triangles,
# distribution drift
# ---------------------------------------------------------------------------


def q_edit_distance_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog name canonicalization: every DISTINCT part-name pair within
    Levenshtein distance 1, found by the positional q-gram count filter
    (operators/editdist.py — Ed-Join family, NO all-pairs comparison),
    each annotated with how many catalog rows carry each spelling. The
    pair space is over distinct names (the entity-resolution shape), and
    ids are xxhash64 of the name — no global row_number sort anywhere.
    Reference has no string-similarity join; §2.9 curation surface."""
    from ingestion_scripts_spark.operators import editdist as ED

    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_rows"))
    ids = names.select(
        F.xxhash64("p_name").alias("nid"), "p_name", "n_rows"
    )
    pairs = ED.qgram_edit_join(ids, "nid", "p_name", k=1, q=2).select(
        F.least("s_a", "s_b").alias("name_a"),
        F.greatest("s_a", "s_b").alias("name_b"),
        "dist",
    )
    cnt = names.select(F.col("p_name"), F.col("n_rows"))
    return (
        pairs.join(
            F.broadcast(cnt.select(F.col("p_name").alias("name_a"),
                                   F.col("n_rows").alias("rows_a"))),
            "name_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("p_name").alias("name_b"),
                                   F.col("n_rows").alias("rows_b"))),
            "name_b",
        )
        .select("name_a", "name_b", "dist", "rows_a", "rows_b")
        .orderBy("name_a", "name_b")
    )


SQL_EDIT_DISTANCE_NAMES = """
WITH n AS (SELECT p_name, count(*)::BIGINT AS n_rows FROM part GROUP BY 1)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name)::INTEGER AS dist,
       a.n_rows AS rows_a, b.n_rows AS rows_b
FROM n a JOIN n b
  ON a.p_name < b.p_name
 AND abs(length(a.p_name) - length(b.p_name)) <= 1
WHERE levenshtein(a.p_name, b.p_name) <= 1
ORDER BY name_a, name_b
"""


def q_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (operators/itemsets.py): part pairs
    co-ordered in >= 2 orders, with support counts and micro-unit lift.
    A-priori pruning (infrequent items never enter the pair join) and a
    basket-keyed equi-join — the 2-itemset core of association mining,
    shaped for billions of baskets. Lift = pair_n * n_baskets /
    (n_a * n_b) from exact BIGINT counts, one IEEE divide, snapped."""
    from ingestion_scripts_spark.operators import itemsets as IT

    li = _t(spark, sf_dir, "lineitem")
    return IT.pair_support(li, "l_orderkey", "l_partkey", min_support=2).orderBy(
        "item_a", "item_b"
    )


SQL_BASKET_PAIR_LIFT = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
item_n AS (SELECT it, count(*)::BIGINT AS n_it FROM b GROUP BY 1),
freq AS (SELECT it FROM item_n WHERE n_it >= 2),
fb AS (SELECT b.bk, b.it FROM b JOIN freq USING (it)),
pairs AS (
  SELECT x.it AS item_a, y.it AS item_b, count(*)::BIGINT AS pair_n
  FROM fb x JOIN fb y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2),
nb AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM b)
SELECT p.item_a, p.item_b, p.pair_n, na.n_it AS n_a, nbb.n_it AS n_b,
       nb.n_baskets,
       CAST(floor(1000000.0 * p.pair_n * nb.n_baskets
                  / (na.n_it * nbb.n_it) + 0.5) AS BIGINT) AS lift_micro
FROM pairs p
JOIN item_n na ON na.it = p.item_a
JOIN item_n nbb ON nbb.it = p.item_b
CROSS JOIN nb
ORDER BY item_a, item_b
"""


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-order graph shared by the graph queries: one (a, b, w)
    row per part pair a < b that is co-ordered in w >= 2 orders."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it")
    ).distinct()
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(y, (F.col("x.bk") == F.col("y.bk")) & (F.col("x.it") < F.col("y.it")))
        .groupBy(F.col("x.it").alias("a"), F.col("y.it").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )


def q_triangle_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the part
    co-order graph (edge = two parts co-ordered in >= 2 orders). The
    Spark side orients edges low-degree -> high-degree before the wedge
    join (operators/graph.py::triangle_stats) so hub nodes cannot blow
    up the join — O(m^1.5) wedges on any graph; triangle identity is
    orientation-invariant, so the oracle's plain id-ordered enumeration
    counts the same exact BIGINTs."""
    from ingestion_scripts_spark.operators import graph as G

    edges = _coorder_edges(spark, sf_dir).select("a", "b")
    return G.triangle_stats(edges, "a", "b").orderBy("node")


SQL_TRIANGLE_COOCCURRENCE = """
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
SELECT d.node, d.degree,
       coalesce(t.triangles, 0)::BIGINT AS triangles,
       CASE WHEN d.degree >= 2
            THEN (2000000 * coalesce(t.triangles, 0)) // (d.degree * (d.degree - 1))
            ELSE 0 END::BIGINT AS cc_micro
FROM deg d LEFT JOIN per_node t USING (node)
ORDER BY node
"""


def q_token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus slices (dataset-version
    monitoring): KL(P||Q) contribution per token, where P is the unigram
    distribution of slice A (even doc_id), Q the add-one-smoothed
    distribution of slice B (odd doc_id) over the union vocabulary. The
    log ratio is built from ONE divide of exact BIGINT products
    (cnt_a*(Nb+V)) / (Na*(cnt_b+1)), the contribution snaps to integer
    micro-units, and ordering uses the snapped integer — engine-exact
    ranks, the BM25 idiom."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"),
        F.explode(X.tokenize_ws(F.lower(F.col("text")))).alias("token"),
    )
    a = toks.filter(F.col("doc_id") % 2 == 0)
    b = toks.filter(F.col("doc_id") % 2 == 1)
    cnt_a = a.groupBy("token").agg(F.count(F.lit(1)).alias("cnt_a"))
    cnt_b = b.groupBy("token").agg(F.count(F.lit(1)).alias("cnt_b"))
    na = a.groupBy().agg(F.count(F.lit(1)).alias("na"))
    nb = b.groupBy().agg(F.count(F.lit(1)).alias("nb"))
    vocab = (
        toks.select("token").distinct().groupBy().agg(F.count(F.lit(1)).alias("v"))
    )
    joined = (
        cnt_a.join(cnt_b, "token", "left")
        .withColumn("cnt_b", F.coalesce(F.col("cnt_b"), F.lit(0)).cast("bigint"))
        .join(F.broadcast(na))
        .join(F.broadcast(nb))
        .join(F.broadcast(vocab))
    )
    ratio = (F.col("cnt_a") * (F.col("nb") + F.col("v"))) / (
        F.col("na") * (F.col("cnt_b") + 1)
    )
    kl_micro = F.floor(
        F.lit(1000000.0) * (F.col("cnt_a") / F.col("na")) * F.log(ratio)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        joined.select(
            "token",
            F.col("cnt_a").cast("bigint").alias("cnt_a"),
            "cnt_b",
            kl_micro.alias("kl_micro"),
        )
        .orderBy(F.desc("kl_micro"), "token")
    )


SQL_TOKEN_KL_DRIFT = f"""
WITH toks AS (
  SELECT doc_id, unnest({O.sql_tokenize_ws('lower(text)')}) AS token
  FROM documents),
a AS (SELECT token FROM toks WHERE doc_id % 2 = 0),
b AS (SELECT token FROM toks WHERE doc_id % 2 = 1),
ca AS (SELECT token, count(*)::BIGINT AS cnt_a FROM a GROUP BY 1),
cb AS (SELECT token, count(*)::BIGINT AS cnt_b FROM b GROUP BY 1),
na AS (SELECT count(*)::BIGINT AS na FROM a),
nb AS (SELECT count(*)::BIGINT AS nb FROM b),
voc AS (SELECT count(DISTINCT token)::BIGINT AS v FROM toks)
SELECT ca.token, ca.cnt_a, coalesce(cb.cnt_b, 0)::BIGINT AS cnt_b,
       CAST(floor(1000000.0 * (ca.cnt_a / na.na)
                  * ln((ca.cnt_a * (nb.nb + voc.v))
                       / (na.na * (coalesce(cb.cnt_b, 0) + 1)))
                  + 0.5) AS BIGINT) AS kl_micro
FROM ca LEFT JOIN cb USING (token)
CROSS JOIN na CROSS JOIN nb CROSS JOIN voc
ORDER BY kl_micro DESC, token
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: near-duplicate CLUSTERS (MinHash
    pairs → connected components) are the split unit, so no near-dup pair
    can straddle train/test — the leakage mode that plain per-doc hashing
    (q_dataset_split) cannot prevent. Split = salted hash of the cluster
    id, 80/10/10. The report carries the machine-checked proof: the count
    of near-dup pairs whose endpoints landed in different splits, joined
    in as a broadcast 1-row aggregate (0 by construction — computed, not
    assumed)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = persist_tracked(
        D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    )
    comps = D.connected_components(pairs, "id_a", "id_b")
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comps, docs.doc_id == comps.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).cast("bigint").alias("cluster_id"),
        )
    )
    h = X.hash64(F.concat(F.lit("lsplit:"), F.col("cluster_id").cast("string"))) % 10
    split = (
        F.when(h < 8, F.lit("train")).when(h < 9, F.lit("val")).otherwise("test")
    )
    sp = labeled.select("doc_id", "n_chars", "cluster_id", split.alias("split"))
    leaks = (
        pairs.join(
            sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
        .groupBy()
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("cross_split_pairs")
        )
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .join(F.broadcast(leaks))
        .orderBy("split")
    )


def _sql_leakage_safe_split() -> str:
    h = f"{O.sql_hash64(chr(39) + 'lsplit:' + chr(39) + ' || cluster_id')} % 10"
    return f"""
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
labeled AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.comp, d.doc_id)::BIGINT AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
sp AS (
  SELECT doc_id, n_chars, cluster_id,
         CASE WHEN {h} < 8 THEN 'train'
              WHEN {h} < 9 THEN 'val' ELSE 'test' END AS split
  FROM labeled),
leaks AS (
  SELECT coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0)::BIGINT
           AS cross_split_pairs
  FROM pairs p JOIN sp sa ON p.id_a = sa.doc_id
               JOIN sp sb ON p.id_b = sb.doc_id)
SELECT split, count(*)::BIGINT AS n_docs,
       count(DISTINCT cluster_id)::BIGINT AS n_clusters,
       sum(n_chars)::BIGINT AS n_chars,
       leaks.cross_split_pairs
FROM sp CROSS JOIN leaks
GROUP BY split, leaks.cross_split_pairs
ORDER BY split
"""


def q_hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (RRF, the standard
    lexical+dense combiner in RAG stacks): for each query doc
    (doc_id % 101 == 0), fuse (a) a lexical ranking by distinct-token
    overlap and (b) the dense cosine ranking over the aligned embedding,
    via rrf_nano = Σ_list 1e9 div (60 + rank) — pure BIGINT, so fused
    ranks are engine-exact. Missing-from-one-list candidates contribute
    only the list they appear in (full outer fusion)."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    toks = docs.select(
        "doc_id", F.array_distinct(X.tokenize_ws(F.lower(F.col("text")))).alias("tk")
    )
    qt = toks.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("tk").alias("qtk")
    )
    lex = (
        F.broadcast(qt)
        .crossJoin(toks.select(F.col("doc_id").alias("match_id"), "tk"))
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.size(F.array_intersect("qtk", "tk")).cast("bigint").alias("overlap"),
        )
        .filter(F.col("overlap") > 0)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("overlap"), F.asc("match_id")
                )
            ),
        )
        .filter(F.col("lex_rank") <= 10)
        .select("query_id", "match_id", "lex_rank")
    )
    dense = (
        SIM.cosine_topk(emb.filter(F.col("vec_id") % 101 == 0), emb, k=10)
        .select("query_id", "match_id", F.col("rank").alias("dense_rank"))
    )
    fused = (
        lex.join(dense, ["query_id", "match_id"], "full_outer")
        .withColumn(
            "rrf_nano",
            F.expr(
                "coalesce(1000000000 div (60 + lex_rank), 0L)"
                " + coalesce(1000000000 div (60 + dense_rank), 0L)"
            ).cast("bigint"),
        )
        .withColumn(
            "fused_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("rrf_nano"), F.asc("match_id")
                )
            ),
        )
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id", "match_id", "lex_rank", "dense_rank", "rrf_nano",
            "fused_rank",
        )
        .orderBy("query_id", "fused_rank")
    )
    return fused


def _sql_hybrid_rank_fusion() -> str:
    nrm = _SQL_NORM
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({O.sql_tokenize_ws('lower(text)')}) AS tk
  FROM documents),
qt AS (SELECT doc_id AS query_id, tk AS qtk FROM toks WHERE doc_id % 101 = 0),
lex0 AS (
  SELECT q.query_id, t.doc_id AS match_id,
         len(list_intersect(q.qtk, t.tk))::BIGINT AS overlap
  FROM qt q, toks t WHERE q.query_id <> t.doc_id),
lex AS (
  SELECT query_id, match_id, lex_rank FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY overlap DESC, match_id ASC) AS lex_rank
    FROM lex0 WHERE overlap > 0)
  WHERE lex_rank <= 10),
q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
       FROM embeddings WHERE vec_id % 101 = 0),
q AS (SELECT query_id, list_transform(v, x -> x / {nrm('v')}) AS qv FROM q0),
c0 AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT match_id, list_transform(v, x -> x / {nrm('v')}) AS cv FROM c0),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q, c WHERE query_id <> match_id),
dense AS (
  SELECT query_id, match_id, dense_rank FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, match_id ASC) AS dense_rank
    FROM scored)
  WHERE dense_rank <= 10),
fused0 AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.match_id, d.match_id) AS match_id,
         l.lex_rank, d.dense_rank,
         (coalesce(1000000000 // (60 + l.lex_rank), 0)
          + coalesce(1000000000 // (60 + d.dense_rank), 0))::BIGINT AS rrf_nano
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.match_id = d.match_id)
SELECT query_id, match_id, lex_rank::INTEGER AS lex_rank,
       dense_rank::INTEGER AS dense_rank, rrf_nano, fused_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_nano DESC, match_id ASC) AS fused_rank
  FROM fused0)
WHERE fused_rank <= 10
ORDER BY query_id, fused_rank
"""


def q_output_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink file-size planning: pack each source's documents (in doc_id
    order) into target-sized output files by cumulative size — the
    deterministic twin of what a size-aware writer does, as an auditable
    plan. file_no = (running_chars - n_chars) div target, i.e. a doc
    belongs to the file its first byte lands in; per (source, file_no)
    the plan reports doc count, char total, and the id range. Window
    cumulative sums are exact BIGINTs — identical on both engines."""
    target = 20_000
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    planned = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w).cast("bigint").alias("cum_chars"),
    ).withColumn(
        "file_no",
        F.expr(f"(cum_chars - n_chars) div {target}").cast("bigint"),
    )
    return (
        planned.groupBy("source", "file_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "file_no")
    )


SQL_OUTPUT_FILE_PLAN = """
WITH planned AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS cum_chars
  FROM documents)
SELECT source, ((cum_chars - n_chars) // 20000)::BIGINT AS file_no,
       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM planned
GROUP BY 1, 2
ORDER BY source, file_no
"""


def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse retrieval via Maximal Marginal Relevance
    (operators/similarity.py::mmr_rerank): per query embedding
    (vec_id % 101 == 0), greedily select 3 of the top-8 cosine candidates
    balancing relevance against redundancy (lam = 0.7). The greedy loop is
    unrolled into the plan (no driver state); scores are BIGINT
    ``7*simu - 3*max_psimu`` with NO division, so picks are engine-exact
    even for negative inter-candidate cosines. The oracle unrolls the same
    3 rounds as CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 101 == 0)
    return SIM.mmr_rerank(q, emb, k_candidates=8, k_select=3).orderBy(
        "query_id", "sel_round"
    )


def _sql_mmr_diverse_topk() -> str:
    nrm = _SQL_NORM
    return f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id % 101 = 0),
q AS (SELECT query_id, list_transform(v, x -> x / {nrm('v')}) AS qv FROM q0),
c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT cid, list_transform(v, x -> x / {nrm('v')}) AS cv FROM c0),
scored AS (
  SELECT query_id, cid AS match_id,
         round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q, c WHERE query_id <> cid),
cand AS (
  SELECT query_id, match_id, sim,
         CAST(round(sim * 1e6) AS BIGINT) AS simu
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, match_id ASC) AS rnk
        FROM scored)
  WHERE rnk <= 8),
pairs AS (
  SELECT a.query_id, a.match_id AS id_a, b.match_id AS id_b,
         CAST(round(round({O.sql_dot('ca.cv', 'cb.cv', 'len(ca.cv)')}, 6) * 1e6)
              AS BIGINT) AS psimu
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.match_id <> b.match_id
  JOIN c ca ON ca.cid = a.match_id
  JOIN c cb ON cb.cid = b.match_id),
sel1 AS (
  SELECT query_id, match_id, 1 AS sel_round, sim,
         (7 * simu)::BIGINT AS mmr_score10
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY 7 * simu DESC, match_id ASC) AS rn
        FROM cand)
  WHERE rn = 1),
red2 AS (
  SELECT p.query_id, p.id_a, max(p.psimu) AS max_psimu
  FROM pairs p JOIN sel1 s
    ON p.query_id = s.query_id AND p.id_b = s.match_id
  GROUP BY 1, 2),
sc2 AS (
  SELECT cand.query_id, cand.match_id, cand.sim,
         (7 * cand.simu - 3 * r.max_psimu)::BIGINT AS score10
  FROM cand
  JOIN red2 r ON r.query_id = cand.query_id AND r.id_a = cand.match_id
  WHERE NOT EXISTS (SELECT 1 FROM sel1 s
                    WHERE s.query_id = cand.query_id
                      AND s.match_id = cand.match_id)),
sel2 AS (
  SELECT query_id, match_id, 2 AS sel_round, sim, score10 AS mmr_score10
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score10 DESC, match_id ASC) AS rn
        FROM sc2)
  WHERE rn = 1),
sel12 AS (SELECT query_id, match_id FROM sel1
          UNION ALL SELECT query_id, match_id FROM sel2),
red3 AS (
  SELECT p.query_id, p.id_a, max(p.psimu) AS max_psimu
  FROM pairs p JOIN sel12 s
    ON p.query_id = s.query_id AND p.id_b = s.match_id
  GROUP BY 1, 2),
sc3 AS (
  SELECT cand.query_id, cand.match_id, cand.sim,
         (7 * cand.simu - 3 * r.max_psimu)::BIGINT AS score10
  FROM cand
  JOIN red3 r ON r.query_id = cand.query_id AND r.id_a = cand.match_id
  WHERE NOT EXISTS (SELECT 1 FROM sel12 s
                    WHERE s.query_id = cand.query_id
                      AND s.match_id = cand.match_id)),
sel3 AS (
  SELECT query_id, match_id, 3 AS sel_round, sim, score10 AS mmr_score10
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score10 DESC, match_id ASC) AS rn
        FROM sc3)
  WHERE rn = 1)
SELECT query_id, match_id, sel_round::INTEGER AS sel_round, sim, mmr_score10
FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
      UNION ALL SELECT * FROM sel3)
ORDER BY query_id, sel_round
"""


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy DQ audit: k-anonymity over the quasi-identifier
    (event_type, event day) — equivalence classes whose distinct-user
    count falls below k = 5 are re-identification risks that a release
    gate must suppress or generalize. Single keyed aggregate; the report
    lists every class with its row count, user count, and violation flag
    (the suppression worklist, not just a yes/no)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.to_date("ts").cast("string").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .withColumn(
            "violates_k5",
            F.when(F.col("n_users") < 5, 1).otherwise(0).cast("int"),
        )
        .orderBy("event_type", "day")
    )


SQL_K_ANONYMITY = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT user_id)::BIGINT AS n_users,
       (CASE WHEN count(DISTINCT user_id) < 5 THEN 1 ELSE 0 END)::INTEGER
         AS violates_k5
FROM events
GROUP BY 1, 2
ORDER BY event_type, day
"""


_JL_PLANES = SIM.hyperplanes(16, 64)


def q_jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection as an ANN scale path:
    embeddings are projected 64 -> 16 dims through deterministic
    md5-derived hyperplanes (the same literals on both engines), top-5
    cosine is computed in the REDUCED space, and per-query recall against
    the full-space top-5 quantifies the speed/quality trade — at 100 TB
    the reduced scan moves 4x fewer bytes through every shuffle and the
    recall harness is the evidence the shortcut is safe. Sims round to
    6 dp before ranking (repo similarity law)."""
    emb = _t(spark, sf_dir, "embeddings")

    def project(df):
        dots = ", ".join(
            "aggregate(zip_with(__v, array({lits}), (x, y) -> x * y), "
            "cast(0.0 as double), (acc, x) -> acc + x)".format(
                lits=", ".join(f"{x}D" for x in row)
            )
            for row in _JL_PLANES
        )
        return df.select(
            F.col("vec_id"),
            F.expr("transform(embedding, x -> cast(x as double))").alias("__v"),
        ).selectExpr("vec_id", f"array({dots}) AS rvec")

    red = project(emb)
    rq = red.filter(F.col("vec_id") % 101 == 0).select(
        "vec_id", F.col("rvec").alias("embedding")
    )
    rtop = SIM.cosine_topk(
        rq,
        red.select("vec_id", F.col("rvec").alias("embedding")),
        k=5,
    ).select("query_id", "match_id")
    fq = emb.filter(F.col("vec_id") % 101 == 0)
    ftop = SIM.cosine_topk(fq, emb, k=5).select(
        "query_id", F.col("match_id").alias("fmatch")
    )
    hits = (
        ftop.join(
            rtop.withColumnRenamed("match_id", "fmatch"),
            ["query_id", "fmatch"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        ftop.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr("CAST(coalesce(n_hits, 0L) * 1000000 div 5 AS BIGINT)").alias(
                "recall_micro"
            ),
        )
        .orderBy("query_id")
    )


def _sql_jl_projection_recall() -> str:
    nrm = _SQL_NORM
    dots = ", ".join(
        "list_sum(list_transform(range(1, 64 + 1), i -> v[i] * ([{lits}])[i]))".format(
            lits=", ".join(repr(x) for x in row)
        )
        for row in _JL_PLANES
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
red AS (SELECT vec_id, [{dots}] AS rv FROM base),
rn AS (SELECT vec_id, list_transform(rv, x -> x / {nrm('rv')}) AS rvn FROM red),
rq AS (SELECT vec_id AS query_id, rvn AS qv FROM rn WHERE vec_id % 101 = 0),
rscored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         round({O.sql_dot('q.qv', 'c.rvn', '16')}, 6) AS sim
  FROM rq q, rn c WHERE q.query_id <> c.vec_id),
rtop AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, match_id ASC) AS rnk
    FROM rscored) WHERE rnk <= 5),
fn AS (SELECT vec_id, list_transform(v, x -> x / {nrm('v')}) AS fvn FROM base),
fq AS (SELECT vec_id AS query_id, fvn AS qv FROM fn WHERE vec_id % 101 = 0),
fscored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         round({O.sql_dot('q.qv', 'c.fvn', '64')}, 6) AS sim
  FROM fq q, fn c WHERE q.query_id <> c.vec_id),
ftop AS (
  SELECT query_id, match_id FROM (
    SELECT query_id, match_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, match_id ASC) AS rnk
    FROM fscored) WHERE rnk <= 5),
hits AS (
  SELECT f.query_id, count(*)::BIGINT AS n_hits
  FROM ftop f JOIN rtop r
    ON f.query_id = r.query_id AND f.match_id = r.match_id
  GROUP BY 1)
SELECT q.query_id AS query_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) * 1000000 // 5)::BIGINT AS recall_micro
FROM (SELECT DISTINCT query_id FROM ftop) q
LEFT JOIN hits h ON h.query_id = q.query_id
ORDER BY q.query_id
"""


def q_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user (level alpha=0.5, trend
    beta=0.3) over the daily value series, plus the h=3 linear forecast —
    the trend-aware upgrade of q_ewma_user_value. The recurrence is a
    LEFT fold whose accumulator is the [level, trend] pair; both engines
    fold the identical [x, 0] pair list left-to-right (Spark
    ``F.aggregate`` seeded with the first pair, DuckDB ``list_reduce``
    whose implicit seed IS the first element), so every IEEE operation
    happens in the same order — bit-identical, partitioning-independent
    (per-user arrays bounded by calendar days)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"))
    per_user = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("series")
    )
    lvl_new = "(0.5D * x[0] + 0.5D * (acc[0] + acc[1]))"
    fold = F.expr(
        "aggregate("
        "  slice(pairs, 2, size(pairs) - 1),"
        "  pairs[0],"
        f"  (acc, x) -> array({lvl_new},"
        f"               0.3D * ({lvl_new} - acc[0]) + 0.7D * acc[1])"
        ")"
    )
    return (
        per_user.select(
            "user_id",
            F.size("series").cast("bigint").alias("n_days"),
            F.expr(
                "transform(series, s -> array(s.v, cast(0.0 as double)))"
            ).alias("pairs"),
        )
        .select("user_id", "n_days", fold.alias("lb"))
        .select(
            "user_id",
            "n_days",
            TA.r4(F.expr("lb[0]")).alias("level"),
            TA.r4(F.expr("lb[1]")).alias("trend"),
            TA.r4(F.expr("lb[0] + 3.0D * lb[1]")).alias("forecast_3"),
        )
        .orderBy("user_id")
    )


def _sql_holt_trend_forecast() -> str:
    lvl_new = "(0.5 * x[1] + 0.5 * (acc[1] + acc[2]))"
    return f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS v
  FROM events GROUP BY user_id, date_trunc('day', ts)),
series AS (
  SELECT user_id, list([v, 0.0] ORDER BY day) AS pairs
  FROM daily GROUP BY user_id),
folded AS (
  SELECT user_id, len(pairs)::BIGINT AS n_days,
         list_reduce(pairs,
           (acc, x) -> [{lvl_new},
                        0.3 * ({lvl_new} - acc[1]) + 0.7 * acc[2]]) AS lb
  FROM series)
SELECT user_id, n_days,
       {O.sql_r4('lb[1]')} AS level,
       {O.sql_r4('lb[2]')} AS trend,
       {O.sql_r4('lb[1] + 3.0 * lb[2]')} AS forecast_3
FROM folded ORDER BY user_id
"""


_COV_METRICS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance/correlation matrix over the lineitem metric
    columns in ONE aggregate pass: every Σx, Σx², Σxy accumulates as
    exact DECIMAL (order-independent across engines and partitionings —
    the nation_profit float-sum lesson), and only the final cov/corr
    arithmetic is float, rounded to 4 dp. The melt to (metric_a,
    metric_b) rows is a literal stack over the single aggregate row —
    no second scan."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in _COV_METRICS:
        aggs.append(
            F.sum(F.col(m).cast("decimal(18,4)")).alias(f"s_{m}")
        )
    for i, a in enumerate(_COV_METRICS):
        for b in _COV_METRICS[i:]:
            aggs.append(
                F.sum(
                    (F.col(a).cast("decimal(18,4)")
                     * F.col(b).cast("decimal(18,4)")).cast("decimal(38,8)")
                ).alias(f"p_{a}_{b}")
            )
    g = li.groupBy().agg(*aggs)
    stack_rows = []
    for i, a in enumerate(_COV_METRICS):
        for b in _COV_METRICS[i:]:
            cov = (
                f"(CAST(p_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) "
                f"* CAST(s_{b} AS DOUBLE) / n) / n"
            )
            var_a = (
                f"(CAST(p_{a}_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) "
                f"* CAST(s_{a} AS DOUBLE) / n) / n"
            )
            var_b = (
                f"(CAST(p_{b}_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) "
                f"* CAST(s_{b} AS DOUBLE) / n) / n"
            )
            stack_rows.append(
                f"struct('{a}' AS metric_a, '{b}' AS metric_b, "
                f"floor(({cov}) * 1e4 + 0.5) / 1e4 AS cov, "
                f"floor((({cov}) / sqrt(({var_a}) * ({var_b}))) * 1e4 + 0.5) "
                f"/ 1e4 AS corr)"
            )
    return (
        g.select(
            F.explode(F.expr("array(" + ", ".join(stack_rows) + ")")).alias("r")
        )
        .select("r.metric_a", "r.metric_b", "r.cov", "r.corr")
        .orderBy("metric_a", "metric_b")
    )


def _sql_covariance_matrix() -> str:
    sums = ["count(*)::BIGINT AS n"]
    for m in _COV_METRICS:
        sums.append(f"sum(CAST({m} AS DECIMAL(18,4))) AS s_{m}")
    for i, a in enumerate(_COV_METRICS):
        for b in _COV_METRICS[i:]:
            # DECIMAL(19,4) operands force DuckDB onto the int128 multiply
            # path (18-wide operands overflow the int64 fast path); the
            # PRODUCT VALUE is exact either way, so it hashes identically
            # to Spark's decimal(37,8) product after the double cast
            sums.append(
                f"sum(CAST(CAST({a} AS DECIMAL(19,4)) "
                f"* CAST({b} AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS p_{a}_{b}"
            )
    rows = []
    for i, a in enumerate(_COV_METRICS):
        for b in _COV_METRICS[i:]:
            cov = (
                f"(CAST(p_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) "
                f"* CAST(s_{b} AS DOUBLE) / n) / n"
            )
            var_a = (
                f"(CAST(p_{a}_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) "
                f"* CAST(s_{a} AS DOUBLE) / n) / n"
            )
            var_b = (
                f"(CAST(p_{b}_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) "
                f"* CAST(s_{b} AS DOUBLE) / n) / n"
            )
            rows.append(
                f"SELECT '{a}' AS metric_a, '{b}' AS metric_b, "
                f"floor(({cov}) * 1e4 + 0.5) / 1e4 AS cov, "
                f"floor((({cov}) / sqrt(({var_a}) * ({var_b}))) * 1e4 + 0.5) "
                f"/ 1e4 AS corr FROM g"
            )
    return (
        "WITH g AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY metric_a, metric_b"
    )


def q_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup resolved by the alternating large-star /
    small-star connected components (operators/dedup.py::
    connected_components_star, Kiveris et al. SoCC'14) — O(log diameter)
    rounds instead of O(diameter), the variant that survives
    adversarially long duplicate chains at cluster scale. Output contract
    and oracle are IDENTICAL to `dup_clusters` (components are
    algorithm-invariant), so the two implementations certify each other
    through the same SQL twin."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    comps = D.connected_components_star(pairs, "id_a", "id_b")
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).cast("bigint").alias("cluster_id"),
        )
        .withColumn(
            "is_rep",
            F.when(F.col("cluster_id") == F.col("doc_id"), 1).otherwise(0).cast("int"),
        )
        .orderBy("doc_id")
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (doc-in-doc / quote-subsumption): the
    directional law 10·|A∩B| >= 9·|A| over distinct 3-gram shingles —
    resemblance (Jaccard) misses a short doc fully embedded in a long
    one because the union is dominated by the long side; containment is
    the right test for boilerplate inclusion and quoting. Candidates come
    from the shingle posting-list equi-join (the sparse_cosine shape:
    keyed shuffles, candidate volume bounded by posting length), exact
    integer threshold at the end."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", D.shingles(F.col("text")).alias("sh")
    ).filter(F.size("sh") > 0)
    sizes = sh.select("doc_id", F.size("sh").cast("bigint").alias("n"))
    post = sh.select("doc_id", F.explode("sh").alias("g"))
    inter = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_sub"),
            F.col("b.doc_id").alias("id_super"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_sub"), F.col("n").alias("n_sub")),
            "id_sub",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_super"), F.col("n").alias("n_super")
            ),
            "id_super",
        )
        .filter(10 * F.col("n_shared") >= 9 * F.col("n_sub"))
        .select("id_sub", "id_super", "n_shared", "n_sub", "n_super")
        .orderBy("id_sub", "id_super")
    )


SQL_CONTAINMENT_PAIRS = f"""
WITH sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
s2 AS (SELECT doc_id, sh, len(sh)::BIGINT AS n FROM sh WHERE len(sh) > 0),
post AS (SELECT doc_id, unnest(sh) AS g FROM s2),
inter AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
         count(*)::BIGINT AS n_shared
  FROM post a JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT i.id_sub, i.id_super, i.n_shared,
       sa.n AS n_sub, sb.n AS n_super
FROM inter i
JOIN s2 sa ON sa.doc_id = i.id_sub
JOIN s2 sb ON sb.doc_id = i.id_super
WHERE 10 * i.n_shared >= 9 * sa.n
ORDER BY id_sub, id_super
"""


def q_stream_scd_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC → SCD2 dimension maintenance: two micro-batches of
    absolute-state updates (acctbal +100 for custkey%7 at 2024-06-01,
    then additionally +50 for custkey%5 at 2024-09-01) applied IN ORDER
    by a foreachBatch MERGE — read the current versioned dimension,
    scd2_apply (operators/sink.py), write the next version directory
    (the open-format stand-in for MERGE INTO; per-batch output dirs keyed
    by batchId make replay idempotent). The final dimension must equal
    the two merges unrolled, which the oracle states in closed form:
    keys in both update sets reach version 3, each version's validity
    interval closed by the batch that superseded it."""
    from ingestion_scripts_spark.operators.sink import scd2_apply
    from ingestion_scripts_spark.sources.readers import load_table
    from ingestion_scripts_spark.streaming.streams import (
        ordered_batches,
        run_available_now,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    root = _scratch(prefix="scd_stream_")
    dim0 = f"{root}/dim_v0"
    (
        cust.withColumn("version", F.lit(1).cast("bigint"))
        .withColumn("valid_from", F.lit("2024-01-01"))
        .withColumn("valid_to", F.lit(None).cast("string"))
        .write.mode("overwrite")
        .parquet(dim0)
    )
    bump7 = F.when(F.col("c_custkey") % 7 == 0, F.lit(100.0)).otherwise(F.lit(0.0))
    bump5 = F.when(F.col("c_custkey") % 5 == 0, F.lit(50.0)).otherwise(F.lit(0.0))
    upd1 = cust.withColumn("c_acctbal", F.col("c_acctbal") + bump7).withColumn(
        "effective_date", F.lit("2024-06-01")
    )
    upd2 = cust.withColumn(
        "c_acctbal", F.col("c_acctbal") + bump7 + bump5
    ).withColumn("effective_date", F.lit("2024-09-01"))
    src = f"{root}/updates"
    stream = ordered_batches([upd1, upd2], src)
    state = {"dir": dim0}

    def merge_batch(bdf, bid):
        eff = bdf.groupBy().agg(F.max("effective_date")).collect()[0][0]
        cur = bdf.sparkSession.read.parquet(state["dir"])
        out = scd2_apply(
            cur,
            bdf.drop("effective_date"),
            "c_custkey",
            ["c_acctbal", "c_mktsegment"],
            eff,
        )
        nxt = f"{root}/dim_v{bid + 1}"
        out.write.mode("overwrite").parquet(nxt)
        state["dir"] = nxt

    run_available_now(
        stream, merge_batch, _scratch(prefix="ckpt_scd_"), size_from=(src,)
    )
    return (
        spark.read.parquet(state["dir"])
        .select(
            "c_custkey",
            "c_acctbal",
            "c_mktsegment",
            F.col("version").cast("bigint").alias("version"),
            "valid_from",
            "valid_to",
        )
        .orderBy("c_custkey", "version")
    )


SQL_STREAM_SCD_MERGE = """
SELECT c_custkey, c_acctbal, c_mktsegment,
       CAST(1 AS BIGINT) AS version, '2024-01-01' AS valid_from,
       CASE WHEN c_custkey % 7 = 0 THEN '2024-06-01'
            WHEN c_custkey % 5 = 0 THEN '2024-09-01' END AS valid_to
FROM customer
UNION ALL
SELECT c_custkey, c_acctbal + 100.0, c_mktsegment,
       CAST(2 AS BIGINT) AS version, '2024-06-01' AS valid_from,
       CASE WHEN c_custkey % 5 = 0 THEN '2024-09-01' END AS valid_to
FROM customer WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey,
       c_acctbal + (CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END)
                 + 50.0,
       c_mktsegment,
       CAST(CASE WHEN c_custkey % 7 = 0 THEN 3 ELSE 2 END AS BIGINT)
         AS version,
       '2024-09-01' AS valid_from, NULL AS valid_to
FROM customer WHERE c_custkey % 5 = 0
ORDER BY c_custkey, version
"""


#: one literal recursive-SQL string, run VERBATIM by spark.sql AND DuckDB:
#: iterative ancestor-chasing (c_custkey // 10 each hop) until the leading
#: digit — the hierarchy-walk shape (org charts, category trees,
#: transitive closure) executable with zero dialect translation now that
#: Spark 4 ships WITH RECURSIVE. `CAST(floor(cur / 10) AS BIGINT)` is the
#: portable integer-div (Spark casts double→bigint by truncation, DuckDB
#: by rounding — floor() first makes both exact).
SQL_RECURSIVE_PORTABLE = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
  UNION ALL
  SELECT node, CAST(floor(cur / 10) AS BIGINT), depth + 1
  FROM anc WHERE cur >= 10
)
SELECT cur AS lead_digit, max(depth) AS max_depth,
       count(*) AS n_nodes
FROM anc WHERE cur < 10
GROUP BY cur ORDER BY lead_digit
"""


def q_recursive_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE front door: the SAME literal WITH RECURSIVE string
    runs on Spark 4 (spark.sql over registered testdata views) and on the
    DuckDB oracle — the iterative hierarchy-walk class (transitive
    closure, ancestor chains) as portable SQL, complementing
    `sql_front_door` (flat) and `sql_pipe_front_door` (pipe syntax)."""
    from ingestion_scripts_spark.catalog import register_testdata

    register_testdata(spark, sf_dir)
    return spark.sql(SQL_RECURSIVE_PORTABLE)


# ---------------------------------------------------------------------------
# r4 batch 9: duplicate spans (exact substring dedup), skyline, KS drift,
# categorical mutual information
# ---------------------------------------------------------------------------

_SPAN_TOKS_SQL = "list_filter(string_split(lower(text), ' '), t -> t <> '')"

#: shared oracle CTE prefix: (doc_id, pos, span) posting rows of 5-token
#: windows, mirroring operators/spans.py::token_spans.
_SPAN_OCC_SQL = f"""
WITH toks AS (SELECT doc_id, {_SPAN_TOKS_SQL} AS t FROM documents),
occ AS (
  SELECT doc_id, u.pos AS pos, u.span AS span
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                      i -> struct_pack(pos := CAST(i AS BIGINT),
                                       span := array_to_string(t[i:i+4], ' ')))) AS u
        FROM toks))
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span detection (Lee et al. 2022 substring dedup,
    Spark-first): every 5-token window that occurs >= 2 times corpus-wide,
    with occurrence and document counts. Catches the repeated boilerplate
    (licence headers, templated intros) that whole-document MinHash
    resemblance misses. One narrow fanout + one keyed groupBy — no
    suffix array, no all-pairs (operators/spans.py)."""
    from ingestion_scripts_spark.operators import spans as SP

    docs = _t(spark, sf_dir, "documents")
    out = SP.duplicate_spans(docs, "doc_id", "text", k=5)
    return out.orderBy(F.desc("n_occ"), "span")


SQL_DUPLICATE_SPANS = f"""
{_SPAN_OCC_SQL}
SELECT span, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM occ GROUP BY span HAVING count(*) >= 2
ORDER BY n_occ DESC, span
"""


def q_span_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document removal budget for exact-substring dedup: keep the
    globally first occurrence of each duplicated 5-token span, mark every
    other occurrence's token positions removable, report distinct covered
    positions per doc and the exact integer ppm of the doc that is
    copy-paste (operators/spans.py::span_removal_plan). The actionable
    output of duplicate_spans: what to cut, from where, how much."""
    from ingestion_scripts_spark.operators import spans as SP

    docs = _t(spark, sf_dir, "documents")
    return SP.span_removal_plan(docs, "doc_id", "text", k=5).orderBy("doc_id")


SQL_SPAN_REMOVAL_PLAN = f"""
{_SPAN_OCC_SQL},
ranked AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY span) AS n_occ
  FROM occ),
cov AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p
        FROM ranked WHERE n_occ >= 2 AND rn >= 2)),
perdoc AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
SELECT t.doc_id, t.n_tokens,
       CAST(coalesce(p.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(CASE WHEN t.n_tokens = 0 THEN 0
                 ELSE (coalesce(p.n_removed, 0) * 1000000) // t.n_tokens
            END AS BIGINT) AS removed_ppm
FROM tot t LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc_id
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-D skyline of part (minimize retail price, maximize size):
    the multi-criteria filtering operator. NOT the O(n^2) dominance
    anti-join — the frontier is computed on the per-price aggregate
    (keyed shuffle), the running-max window sees only |distinct price|
    rows, and full rows come back via a broadcast join of the frontier
    points (operators/profiling.py::pareto_frontier_2d)."""
    from ingestion_scripts_spark.operators import profiling as PR

    part = _t(spark, sf_dir, "part")
    out = PR.pareto_frontier_2d(
        part,
        PR.snap_units(F.col("p_retailprice"), 100),
        F.col("p_size").cast("bigint"),
        ["p_partkey"],
    )
    return out.select(
        "p_partkey",
        F.col("__x").alias("price_cents"),
        F.col("__y").alias("p_size"),
    ).orderBy("price_cents", "p_partkey")


SQL_PARETO_FRONTIER = """
WITH p AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc
  FROM part),
per_x AS (SELECT pc, max(p_size) AS best FROM p GROUP BY pc),
fr AS (
  SELECT pc, best,
         max(best) OVER (ORDER BY pc
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM per_x),
fp AS (SELECT pc, best FROM fr WHERE prev IS NULL OR best > prev)
SELECT p.p_partkey, p.pc AS price_cents, p.p_size
FROM p JOIN fp ON p.pc = fp.pc AND p.p_size = fp.best
ORDER BY price_cents, p_partkey
"""


__all__ = [n for n in globals() if not n.startswith("__")]
