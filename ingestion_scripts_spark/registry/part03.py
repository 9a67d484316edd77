"""Registry implementation, part 03 — an order-preserving slice of the
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

from ingestion_scripts_spark.registry.part02 import *  # noqa: F401,F403



def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (dynamic-gap session merge
    inside the engine) pinned against the classic gaps-and-islands SQL —
    proves the built-in path and the manual construction (q_sessionize)
    agree on semantics, including the boundary rule: a gap of exactly the
    timeout starts a NEW session (session end is exclusive)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            _fmt_ts(F.col("w.start"), with_micros=True).alias("session_start"),
            _fmt_ts(F.col("w.end"), with_micros=True).alias("session_end"),
            "n",
        )
        .orderBy("user_id", "session_start")
    )


SQL_SESSION_WINDOW = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id,
       {SQL_TS_US.format('min(ts)')} AS session_start,
       {SQL_TS_US.format("max(ts) + INTERVAL 30 MINUTE")} AS session_end,
       count(*) AS n
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window with a DYNAMIC per-event gap (purchases hold
    a session open 45 min, everything else 15): each event extends its
    session to ts+gap and overlapping extents merge — checked against the
    gaps-and-islands construction with a RUNNING-MAX horizon (an island
    breaks only when the next event starts after max over all previous
    (ts_i + gap_i), which a plain lag-based gap rule gets wrong when a
    long-gap event is followed by short-gap ones)."""
    ev = _t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", "45 minutes").otherwise(
        "15 minutes"
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            _fmt_ts(F.col("w.start"), with_micros=True).alias("session_start"),
            _fmt_ts(F.col("w.end"), with_micros=True).alias("session_end"),
            "n",
        )
        .orderBy("user_id", "session_start")
    )


SQL_SESSION_DYNAMIC = f"""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'purchase' THEN 2700000000 ELSE 900000000 END
           AS gap_us
  FROM events),
flagged AS (
  SELECT user_id, ts, gap_us,
         CASE WHEN max(epoch_us(ts) + gap_us) OVER
                   (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1
              WHEN epoch_us(ts) >= max(epoch_us(ts) + gap_us) OVER
                   (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_s
  FROM g),
sess AS (
  SELECT user_id, ts, gap_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id,
       {SQL_TS_US.format('min(ts)')} AS session_start,
       {SQL_TS_US.format('make_timestamp(max(epoch_us(ts) + gap_us))')}
         AS session_end,
       count(*) AS n
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# round-3 extensions: semantic dedup, CMS heavy hitters, chunking, rule
# gates, weighted sampling, per-source caps, ORC source
# ---------------------------------------------------------------------------

def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    exact cosine near-dup removal WITHIN each cluster — the cluster
    assignment is the blocking key, so the quadratic pair step is bounded
    by cluster size and global all-pairs never materializes. Survivor =
    lowest vec_id of each dup group (dup_of = -1 for kept vectors).

    Composition of two verified primitives: ``kmeans_fit`` (narrow
    assignment + tiny keyed re-center shuffle) and ``blocked_cosine_pairs``
    (fold-exact, oracle-identical). At 100 TB the same plan holds — the
    cluster count scales with corpus size and each cluster fits a task."""
    from ingestion_scripts_spark.operators.clustering import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb, "embedding", "vec_id", k=8, iters=3)
    assigned = assigned.select(
        F.col("__id").alias("vec_id"), F.col("cluster_id").cast("bigint").alias("cluster_id"), "v"
    )
    # numpy gram-matrix kernel (engine default for cosine blocks — one BLAS
    # matmul per cluster); the oracle recomputes with the exact fold, and
    # pytest pins kernel-equality of the pair sets, so the dup verdicts are
    # hash-identical while running ~6x faster than per-pair HOF folds
    pairs = SIM.blocked_cosine_pairs_pandas(
        assigned, "cluster_id", id_col="vec_id", vec_col="v", threshold=0.35
    )
    dup_of = pairs.groupBy("id_b").agg(F.min("id_a").alias("__dup"))
    return (
        assigned.join(dup_of, assigned.vec_id == dup_of.id_b, "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("__dup"), F.lit(-1)).cast("bigint").alias("dup_of"),
            F.col("__dup").isNull().cast("int").alias("kept"),
        )
        .orderBy("vec_id")
    )


def _sql_semdedup() -> str:
    cos = f"round({O.sql_dot('av.v', 'bv.v', 'len(av.v)')}, 6)"
    return f"""
WITH assign AS (SELECT vec_id, cluster_id FROM ({_sql_kmeans_base()}) base),
v0 AS (SELECT vec_id, embedding::DOUBLE[] AS r FROM embeddings),
vv AS (SELECT vec_id, list_transform(r, x -> x / {_SQL_NORM('r')}) AS v FROM v0),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN vv av ON av.vec_id = a.vec_id
  JOIN vv bv ON bv.vec_id = b.vec_id
  WHERE {cos} >= 0.35),
d AS (SELECT id_b, min(id_a) AS dup_of FROM pairs GROUP BY 1)
SELECT a.vec_id, CAST(a.cluster_id AS BIGINT) AS cluster_id,
       CAST(coalesce(d.dup_of, -1) AS BIGINT) AS dup_of,
       CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM assign a LEFT JOIN d ON d.id_b = a.vec_id
ORDER BY vec_id
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (d=4 salted hash rows × w=256
    cells): the sketch is ≤ d·w rows per task after map-side partials —
    the scalable substitute for exact per-key counts when the key space is
    huge — then point-estimates for the distinct keys, top-20 by estimate.
    Estimates over-count on collisions (never under): both engines compute
    the identical cells, so the driver hash check is exact."""
    from ingestion_scripts_spark.operators.sketches import cms_estimate, cms_sketch

    ev = _t(spark, sf_dir, "events")
    sk = cms_sketch(ev, "user_id")
    keys = ev.select("user_id").distinct()
    return (
        cms_estimate(sk, keys, "user_id", out_col="est_count")
        .orderBy(F.col("est_count").desc(), F.col("user_id").asc())
        .limit(20)
    )


def _sql_cms_heavy_hitters() -> str:
    from ingestion_scripts_spark.operators.sketches import sql_cms_estimate

    inner = sql_cms_estimate("events", "user_id", out_col="est_count")
    return f"""
SELECT CAST(__k AS BIGINT) AS user_id, est_count
FROM ({inner})
ORDER BY est_count DESC, user_id ASC LIMIT 20
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows every 48 —
    RAG / long-document training prep): a narrow posexplode whose fanout
    is the chunk count; no shuffle anywhere."""
    docs = _t(spark, sf_dir, "documents")
    return TA.chunk_tokens(docs, "doc_id", "text", size=64, stride=48).orderBy(
        "doc_id", "chunk_id"
    )


_SQL_DOC_CHUNKS = """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
w AS (SELECT doc_id, toks,
             CAST(1 + ceil(greatest(len(toks) - 64, 0) / 48.0) AS BIGINT) AS n_win
      FROM t),
c AS (SELECT doc_id, toks, unnest(range(n_win)) AS chunk_id FROM w)
SELECT doc_id, chunk_id,
       CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
         AS chunk_text
FROM c ORDER BY doc_id, chunk_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gate (Rae et al. 2021 heuristics): token-count
    bounds, mean-word-length band, symbol ratio, alpha-token fraction,
    required-stopword hits → one keep verdict per document. Pure scan-side
    narrow map — the cheap filter that runs BEFORE dedup in a curation
    DAG, so 100 TB never reaches the expensive stages unfiltered."""
    docs = _t(spark, sf_dir, "documents")
    g = TA.gopher_rules(F.col("text"))
    return docs.select(
        "doc_id",
        g["n_tokens"].alias("n_tokens"),
        g["mean_token_len"].alias("mean_token_len"),
        g["symbol_ratio"].alias("symbol_ratio"),
        g["alpha_frac"].alias("alpha_frac"),
        g["stop_hits"].alias("stop_hits"),
        g["keep"].alias("keep"),
    ).orderBy("doc_id")


def _sql_gopher_rules() -> str:
    g = O.sql_gopher("text")
    cols = ",\n  ".join(f"{expr} AS {name}" for name, expr in g.items())
    return f"SELECT doc_id,\n  {cols}\nFROM documents ORDER BY doc_id"


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis exponential keys, hash-derived uniforms — no RNG state):
    50 documents weighted by length. Identical selection across engines,
    runs, and repartitionings; the top-k is a per-partition TakeOrdered
    merge, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    return TA.priority_sample(
        docs, "doc_id", F.greatest(F.col("n_chars"), F.lit(1)).cast("double"), k=50
    ).orderBy("es_key", "doc_id")


def _sql_priority_sample() -> str:
    u = f"(({O.sql_hash64('doc_id::VARCHAR')}) + 1.0) / {float(1 << 60)!r}"
    key = f"round(-ln({u}) / greatest(n_chars, 1)::DOUBLE, 9)"
    return f"""
SELECT doc_id, greatest(n_chars, 1)::DOUBLE AS w, {key} AS es_key
FROM documents
ORDER BY es_key ASC, doc_id ASC LIMIT 50
"""


def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (CCNet/Gopher-style dominance control):
    keep at most 15 documents per source, best quality first (ties →
    lowest doc_id). One window shuffle keyed by source; at skewed scale
    the same cap runs as the salted two-phase top-k."""
    docs = _t(spark, sf_dir, "documents")
    q = TA.quality_score(F.col("text"))["quality"]
    w = Window.partitionBy("source").orderBy(F.col("__q").desc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", q.alias("__q"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 15)
        .select("source", "rnk", "doc_id", F.col("__q").alias("quality"))
        .orderBy("source", "rnk")
    )


def _sql_domain_caps() -> str:
    qual = O.sql_quality("text")["quality"]
    return f"""
WITH scored AS (
  SELECT doc_id, source, {qual} AS q FROM documents),
ranked AS (
  SELECT source, doc_id, q,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY q DESC, doc_id ASC) AS BIGINT) AS rnk
  FROM scored)
SELECT source, rnk, doc_id, q AS quality
FROM ranked WHERE rnk <= 15 ORDER BY source, rnk
"""


def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 CUSTOM KEYED STATE (``applyInPandasWithState``), oracle-checked:
    events replay as two deterministic micro-batches (even then odd
    event_ids); the per-user counter state must survive the batch boundary,
    so each user's final ``running_total`` — the max across its per-batch
    emissions — must equal the plain batch COUNT(*). n_batches counts how
    many triggers emitted the key (proves keys seen in both batches carried
    state, not recomputed). State is one bigint per key, partitioned by the
    key shuffle, checkpointed — the arbitrary-state template at scale."""
    from ingestion_scripts_spark.sources.readers import load_table
    from ingestion_scripts_spark.streaming.streams import (
        ordered_batches,
        run_available_now,
        stateful_user_counts,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    stream = ordered_batches(
        [
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
        ],
        _scratch(prefix="state_src_"),
    )
    counted = stateful_user_counts(stream, "user_id")
    # core-sized: Python-stateful over ~|users| groups (run_available_now)
    out = run_available_now(
        counted, "memory", _scratch(prefix="ckpt_"), mode="update"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("running_total").alias("total_events"),
            F.count(F.lit(1)).alias("n_batches"),
        )
        .orderBy("user_id")
    )


SQL_STREAM_STATEFUL = """
SELECT user_id, count(*) AS total_events,
       CAST(count(DISTINCT event_id % 2) AS BIGINT) AS n_batches
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_stream_wm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state (``dropDuplicatesWithinWatermark``
    — the production form of stream_dedup_counts: plain dropDuplicates
    keeps every key forever; the watermarked variant evicts keys once the
    watermark passes them, so state is O(delay window), the only form that
    survives an unbounded stream). Every event replayed twice in the same
    batch window → per-type counts must equal plain batch counts."""
    from ingestion_scripts_spark.sources.readers import read_events_stream
    from ingestion_scripts_spark.streaming.streams import run_available_now

    stream = read_events_stream(spark, sf_dir)
    doubled = stream.select(
        "event_id", "event_type", "ts",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("__replay"),
    ).drop("__replay")
    dedup = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_available_now(
        dedup, "memory", _scratch(prefix="ckpt_"),
        size_from=(f"{sf_dir}/events.parquet",),
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative DISTINCT (user, item) interaction pairs by day —
    COUNT(DISTINCT) over a running window is unsupported/unscalable, so
    the engine uses the first-seen rewrite: per-entity min(day) (one keyed
    agg), daily new-entity counts, then a cumulative sum over the tiny
    per-day table. The standard coverage growth curve, shuffle-bounded by
    |entities| + |days|."""
    ev = _t(spark, sf_dir, "events")
    pair = ev.select(
        F.concat_ws(
            ":",
            F.col("user_id"),
            # explicit NULL→'' so the key law matches the oracle even for
            # malformed props (concat_ws would silently SKIP a null segment;
            # the oracle's || would NULL the whole key — neither is wanted)
            F.coalesce(F.get_json_object("props", "$.k"), F.lit("")),
        ).alias("ent"),
        F.to_date("ts").alias("day"),
    )
    first_seen = pair.groupBy("ent").agg(F.min("day").alias("first_day"))
    daily = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    wc = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    # cumulative window runs over the per-DAY table (bounded by calendar
    # days, not corpus size) — single partition is fine by construction
    return (
        daily.withColumn("cum_users", F.sum("new_users").over(wc))
        .select(
            F.date_format("first_day", "yyyy-MM-dd").alias("day"),
            "new_users",
            "cum_users",
        )
        .orderBy("day")
    )


SQL_CUMULATIVE_USERS = """
WITH fs AS (
  SELECT user_id || ':' || coalesce(json_extract_string(props, '$.k'), '') AS ent,
         min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY 1),
daily AS (SELECT first_day, count(*) AS new_users FROM fs GROUP BY 1)
SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM daily ORDER BY day
"""


def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session first-touch attribution: sessionize per user (30-min gaps,
    gaps-and-islands), then attribute every purchase to the FIRST click of
    its session (-1 if the session has no click). One window pass for the
    session ids + one min-over-(user, session) — the analytics twin of the
    asof join (nearest-click) with different, session-scoped semantics."""
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
    ws = Window.partitionBy("user_id", "sid")
    first_click = F.min(
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("ts"), F.col("event_id")),
        )
    ).over(ws)
    return (
        sess.withColumn("fc", first_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.coalesce(F.col("fc.event_id"), F.lit(-1)).alias("attributed_click_id"),
        )
        .orderBy("purchase_id")
    )


SQL_FIRST_TOUCH = """
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
fc AS (
  SELECT *, min(CASE WHEN event_type = 'click'
                     THEN struct_pack(ts := ts, event_id := event_id) END)
              OVER (PARTITION BY user_id, sid) AS first_click
  FROM sess)
SELECT event_id AS purchase_id,
       CAST(coalesce(first_click.event_id, -1) AS BIGINT)
         AS attributed_click_id
FROM fc WHERE event_type = 'purchase' ORDER BY purchase_id
"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY-ORDERED conversion funnel (view → click → purchase inside
    a 30-min session): each later step must occur AFTER the session's
    first qualifying earlier step, not merely co-occur — the product
    analytics query that naive type-count funnels get wrong. Three window
    passes over one (user, session) partitioning (the exchange is reused;
    stage N's conditional min references stage N-1's window result), then
    a per-user rollup."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wu))
    sess = ev.withColumn(
        "sid",
        F.sum(F.when(gap > 1_800_000_000, 1).otherwise(0)).over(
            wu.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "sid")
    s1 = sess.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws)
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(ws),
    )
    s3 = s2.withColumn(
        "t_purch",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(ws),
    )
    per_session = s3.groupBy("user_id", "sid").agg(
        F.max(F.col("t_view").isNotNull().cast("int")).alias("r1"),
        F.max(F.col("t_click").isNotNull().cast("int")).alias("r2"),
        F.max(F.col("t_purch").isNotNull().cast("int")).alias("r3"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("r1").cast("bigint").alias("n_viewed"),
            F.sum("r2").cast("bigint").alias("n_clicked_after_view"),
            F.sum("r3").cast("bigint").alias("n_converted"),
        )
        .orderBy("user_id")
    )


SQL_SESSION_FUNNEL = """
WITH flagged AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id, sid) AS t_view
  FROM sess),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id, sid) AS t_click
  FROM s1),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id, sid) AS t_purch
  FROM s2),
per_session AS (
  SELECT user_id, sid,
         max(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS r2,
         max(CASE WHEN t_purch IS NOT NULL THEN 1 ELSE 0 END) AS r3
  FROM s3 GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(r1) AS BIGINT) AS n_viewed,
       CAST(sum(r2) AS BIGINT) AS n_clicked_after_view,
       CAST(sum(r3) AS BIGINT) AS n_converted
FROM per_session GROUP BY 1 ORDER BY user_id
"""


def q_stream_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 (keyed idempotent sink) END-TO-END under replay, oracle-checked:
    a two-batch stream where batch 1 = even event_ids and batch 2 = ALL
    events (simulated at-least-once redelivery of the whole first batch);
    the foreachBatch writer (``idempotent_append``, the batch form of K3)
    anti-joins each batch against the sink's existing keys before
    appending, so the sink must hold every event EXACTLY once — per-type
    counts equal the plain batch counts. Checkpointing gives exactly-once
    *state*; the keyed anti-join makes the write idempotent under
    micro-batch replay — together the reference's Mongo-unique-index
    upgrade (at-least-once → effectively-once) as files + anti-join."""
    from ingestion_scripts_spark.operators.sink import idempotent_append
    from ingestion_scripts_spark.sources.readers import load_table
    from ingestion_scripts_spark.streaming.streams import (
        ordered_batches,
        run_available_now,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    src = _scratch(prefix="idem_src_")
    stream = ordered_batches([ev.filter(F.col("event_id") % 2 == 0), ev], src)
    sink = _scratch(prefix="idem_sink_") + "/out"
    run_available_now(
        stream,
        lambda batch, _: idempotent_append(batch, sink, ["event_id"], audit=False),
        _scratch(prefix="ckpt_"),
        size_from=(src,),
    )
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


SQL_STREAM_IDEMPOTENT = """
SELECT event_type, count(*) AS n FROM events
GROUP BY 1 ORDER BY event_type
"""


def q_stream_fanout_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink fanout in ONE streaming pass (the bronze + quarantine
    split every production ingest runs): foreachBatch routes each
    micro-batch through the K4 dead-letter split and writes BOTH sinks —
    the batch is persisted inside the callback so the two writes share
    one computation of the routing predicate instead of re-reading the
    source per sink. Result = per-sink/type counts read back from the
    parquet, checked against the equivalent conditional aggregation."""
    from ingestion_scripts_spark.operators.sink import dead_letter_split
    from ingestion_scripts_spark.sources.readers import read_events_stream
    from ingestion_scripts_spark.streaming.streams import run_available_now

    stream = read_events_stream(spark, sf_dir)
    base = _scratch(prefix="fanout_")
    good_path, dead_path = f"{base}/bronze", f"{base}/quarantine"
    ok = F.col("value").isNotNull() & (F.col("value") >= 1.0)

    def route(batch_df, batch_id):
        batch_df = batch_df.persist()
        good, dead = dead_letter_split(batch_df, ok)
        good.write.mode("append").parquet(good_path)
        dead.select("event_id", "event_type", "value").write.mode(
            "append"
        ).parquet(dead_path)
        batch_df.unpersist()

    run_available_now(
        stream, route, _scratch(prefix="ckpt_"),
        size_from=(f"{sf_dir}/events.parquet",),
    )
    g = (
        spark.read.parquet(good_path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("sink", F.lit("bronze"))
    )
    d = (
        spark.read.parquet(dead_path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("sink", F.lit("quarantine"))
    )
    return g.unionByName(d).select("sink", "event_type", "n").orderBy(
        "sink", "event_type"
    )


SQL_STREAM_FANOUT = """
SELECT CASE WHEN value IS NOT NULL AND value >= 1.0
            THEN 'bronze' ELSE 'quarantine' END AS sink,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2 ORDER BY sink, event_type
"""


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-gate for sink dedup (K3/J1 at scale): the
    already-ingested ledger (BUILDING-segment customers) is compressed to a
    ceil(4096/60)-row word table via bit_or partial aggregation and
    BROADCAST; each candidate user then gets a zero-shuffle maybe_in
    verdict. actual_in (exact semi-join) sits beside it, so the output
    exposes the false positives — which are IDENTICAL cross-engine because
    the oracle computes the same salted md5 bit positions. No false
    negatives by construction (pytest-pinned)."""
    from ingestion_scripts_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )

    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    ledger = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    ).distinct()
    bloom = bloom_build(ledger, "key")
    users = ev.select("user_id").distinct()
    gated = bloom_maybe_contains(users, bloom, "user_id")
    actual = users.join(
        ledger, users.user_id == ledger.key, "left"
    ).select("user_id", F.col("key").isNotNull().cast("int").alias("actual_in"))
    return gated.join(actual, "user_id").orderBy("user_id")


def _sql_bloom_gate() -> str:
    from ingestion_scripts_spark.operators.dedup import sql_bloom_gate

    inner = sql_bloom_gate(
        "SELECT DISTINCT c_custkey::VARCHAR AS __k FROM customer"
        " WHERE c_mktsegment = 'BUILDING'",
        "SELECT DISTINCT user_id::VARCHAR AS __k FROM events",
        "user_id",
    )
    return f"""
WITH g AS ({inner}),
l AS (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT CAST(g.user_id AS BIGINT) AS user_id, g.maybe_in,
       CAST(CASE WHEN l.c_custkey IS NULL THEN 0 ELSE 1 END AS INTEGER) AS actual_in
FROM g LEFT JOIN l ON l.c_custkey = CAST(g.user_id AS BIGINT)
ORDER BY user_id
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-promo audit): customers in a nation set
    whose balance beats the average positive balance of that set AND who
    have placed no order since 2000 — a scalar-aggregate subquery + NOT EXISTS in one
    query, both decorrelated by Catalyst (the scalar avg becomes a 1-row
    broadcast, the NOT EXISTS a left-anti join — no per-row subplan
    execution anywhere)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("cust_q22")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("ord_q22")
    return spark.sql(
        """
        SELECT c.c_nationkey AS nation, count(*) AS n_cust,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS total_bal
        FROM cust_q22 c
        WHERE c.c_nationkey IN (0, 3, 7, 11, 19)
          AND c.c_acctbal > (
            SELECT avg(c2.c_acctbal) FROM cust_q22 c2
            WHERE c2.c_acctbal > 0.0
              AND c2.c_nationkey IN (0, 3, 7, 11, 19))
          AND NOT EXISTS (
            SELECT 1 FROM ord_q22 o WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= DATE '2000-01-01')
        GROUP BY c.c_nationkey ORDER BY nation
        """
    )


SQL_IDLE_RICH = """
SELECT c.c_nationkey AS nation, count(*) AS n_cust,
       CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS total_bal
FROM customer c
WHERE c.c_nationkey IN (0, 3, 7, 11, 19)
  AND c.c_acctbal > (
    SELECT avg(c2.c_acctbal) FROM customer c2
    WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey IN (0, 3, 7, 11, 19))
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= DATE '2000-01-01')
GROUP BY c.c_nationkey ORDER BY nation
"""


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (the data-quality monitor every ingest
    pipeline schedules): unpivot the numeric columns via ``stack`` into
    (column, value) rows, then a single keyed aggregate computes count /
    nulls / exact distinct / min / max / mean per column. ONE scan + one
    shuffle keyed by column name regardless of how many columns are
    profiled — per-column sequential jobs would rescan the table N times."""
    li = _t(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    n = len(_PROFILE_COLS)
    pairs = ", ".join(f"'{c}', `{c}`" for c in _PROFILE_COLS)
    long = li.select(F.expr(f"stack({n}, {pairs}) AS (col, val)"))
    return (
        long.groupBy("col")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("val").isNull().cast("bigint")).alias("n_null"),
            F.countDistinct("val").alias("n_distinct"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
            TA.r4(F.avg("val")).alias("mean_val"),
        )
        .orderBy("col")
    )


def _sql_column_profile() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col, {c} AS val FROM lineitem" for c in _PROFILE_COLS
    )
    return f"""
WITH long AS ({arms})
SELECT col, count(*) AS n_rows,
       CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
       round(min(val), 6) AS min_val, round(max(val), 6) AS max_val,
       {O.sql_r4('avg(val)')} AS mean_val
FROM long GROUP BY col ORDER BY col
"""


def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped CORRELATED SCALAR SUBQUERY (through spark.sql):
    for each part in a brand, the supplier rows achieving that part's
    minimum extended price. Catalyst decorrelates the subquery into an
    aggregate + join — pinned here because hand-rolled decorrelation is
    exactly what an engine must NOT require at 100 TB; the oracle runs the
    same correlated form through DuckDB's own decorrelator."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_q2")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_q2")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supp_q2")
    return spark.sql(
        """
        SELECT p.p_partkey, s.s_name, round(l.l_extendedprice, 2) AS price
        FROM li_q2 l
        JOIN part_q2 p ON p.p_partkey = l.l_partkey
        JOIN supp_q2 s ON s.s_suppkey = l.l_suppkey
        WHERE p.p_brand = 'Brand#11'
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM li_q2 l2
            WHERE l2.l_partkey = l.l_partkey)
        ORDER BY p.p_partkey, s.s_name
        """
    )


SQL_MIN_PRICE_SUPPLIER = """
SELECT p.p_partkey, s.s_name, round(l.l_extendedprice, 2) AS price
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_brand = 'Brand#11'
  AND l.l_extendedprice = (
    SELECT min(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)
ORDER BY p.p_partkey, s.s_name
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the letter distribution per document — the
    classic gibberish/boilerplate detector (low entropy = repeated
    characters/template spam, high = random noise). explode → (doc, char)
    count → per-doc -Σ p·ln p: narrow map + one keyed shuffle of (doc,
    26)-bounded rows; flags docs outside the [2.0, 4.8] nat band."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z])"), 1)).alias(
            "ch"
        ),
    )
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(tot)
    return (
        per.withColumn("__plp", -p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_letters"),
            TA.r4(F.sum("__plp")).alias("entropy"),
        )
        .withColumn(
            "flagged",
            ((F.col("entropy") < 2.0) | (F.col("entropy") > 4.8)).cast("int"),
        )
        .orderBy("doc_id")
    )


SQL_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '([a-z])', 1)) AS ch
  FROM documents),
per AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
withp AS (
  SELECT doc_id, c,
         -(c / sum(c) OVER (PARTITION BY doc_id))
           * ln(c / sum(c) OVER (PARTITION BY doc_id)) AS plp
  FROM per),
ent AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_letters,
         floor(sum(plp) * 10000.0 + 0.5) / 10000.0 AS entropy
  FROM withp GROUP BY 1)
SELECT doc_id, n_letters, entropy,
       CAST(CASE WHEN entropy < 2.0 OR entropy > 4.8 THEN 1 ELSE 0 END
            AS INTEGER) AS flagged
FROM ent ORDER BY doc_id
"""


_PPL_V = 1000  #: unigram LM vocab size (top-V by count, deterministic tiebreak)


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing: train an add-one-smoothed unigram
    LM on the corpus itself (top-{V} vocab by frequency, everything else
    OOV), score each document by mean negative log-likelihood, then split
    into per-language NLL terciles (head/middle/tail) — the classic
    perplexity-bucket filter before LLM training.

    Scale shape: token counts are one keyed groupBy with partials; the
    vocab table is O(V) and broadcasts into the scoring join, so no token
    ever shuffles for the lookup; the tercile rank is a window PARTITIONED
    BY lang (never a single global window). Bucket = floor((rn-1)*3/cnt),
    identical arithmetic in the oracle (ntile remainder policies differ
    between engines, the floor form doesn't)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", X.tokenize_ws(X.clean_text(F.col("text"))).alias("t")
    )
    tok = toks.select("doc_id", "lang", F.explode("t").alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # top-V as orderBy+limit = TakeOrdered (per-partition top-V, k-row
    # merge) — a global row_number window would drag every distinct token
    # through one partition
    vocab = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(_PPL_V)
    # fully lazy: the corpus token count joins in as a broadcast 1-row
    # aggregate (the oracle's n CTE) — no job fires at query-build time.
    # bigint + int literals promote the divide to double, identical to the
    # oracle's (n_total + V + 1) denominator.
    n = tok.agg(F.count(F.lit(1)).alias("__n_total"))
    scored = (
        tok.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("__n_total") + F.lit(_PPL_V + 1))
            ),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            TA.r4(-F.sum("__lp") / F.count(F.lit(1))).alias("nll"),
        )
    )
    wl = Window.partitionBy("lang").orderBy(F.col("nll").asc(), F.col("doc_id").asc())
    cnt = Window.partitionBy("lang")
    return (
        scored.withColumn("__rn", F.row_number().over(wl))
        .withColumn(
            "bucket",
            (F.floor((F.col("__rn") - 1) * 3 / F.count(F.lit(1)).over(cnt)) + 1).cast(
                "int"
            ),
        )
        .select("doc_id", "lang", "n_toks", "nll", "bucket")
        .orderBy("doc_id")
    )


def _sql_unigram_ppl() -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    return f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({toks}) AS w FROM documents),
counts AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
vocab AS (
  SELECT w, c FROM (
    SELECT w, c, row_number() OVER (ORDER BY c DESC, w ASC) AS rnk FROM counts)
  WHERE rnk <= {_PPL_V}),
n AS (SELECT count(*) AS n_total FROM tok),
scored AS (
  SELECT t.doc_id, t.lang, count(*) AS n_toks,
         floor((-sum(ln((coalesce(v.c, 0) + 1.0) / (n.n_total + {_PPL_V} + 1)))
                / count(*)) * 10000.0 + 0.5) / 10000.0 AS nll
  FROM tok t LEFT JOIN vocab v USING (w), n
  GROUP BY 1, 2),
ranked AS (
  SELECT doc_id, lang, n_toks, nll,
         row_number() OVER (PARTITION BY lang ORDER BY nll ASC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM scored)
SELECT doc_id, lang, n_toks,
       nll, CAST(floor((rn - 1) * 3 / cnt) + 1 AS INTEGER) AS bucket
FROM ranked ORDER BY doc_id
"""


_HQ_BINS = 64
_HQ_PS = (0.5, 0.9, 0.99)


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles WITHOUT a global sort: fixed-width 64-bin
    histogram per event_type (two cheap keyed aggregations — min/max/count,
    then bin counts), cumulative over the 64-row-per-group histogram, and
    the quantile estimate is the lower edge of the first bin whose
    cumulative count reaches ceil(p·n). This is the sketch-shaped quantile
    for 100 TB dashboards (exact `percentile` — see value_percentiles —
    sorts every group); error is bounded by one bin width. All arithmetic
    is shared-IEEE (sub/div/floor), so both engines pick identical bins."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_HQ_BINS))
    b = F.when(
        F.col("mx") > F.col("mn"),
        F.least(F.lit(_HQ_BINS - 1), F.floor((F.col("value") - F.col("mn")) / width)),
    ).otherwise(F.lit(0)).cast("bigint")
    counts = (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", b.alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum", F.sum("c").over(wc))
    probes = cum.join(F.broadcast(stats), "event_type").select(
        "event_type", "b", "cum", "mn", "mx", "n",
        F.explode(F.array(*[F.lit(p) for p in _HQ_PS])).alias("p"),
    )
    hit = probes.filter(F.col("cum") >= F.ceil(F.col("p") * F.col("n")))
    return (
        hit.groupBy("event_type", "p", "mn", "mx", "n")
        .agg(F.min("b").alias("b"))
        .select(
            "event_type",
            "p",
            TA.r4(
                F.col("mn")
                + F.col("b") * ((F.col("mx") - F.col("mn")) / F.lit(float(_HQ_BINS)))
            ).alias("est"),
            "n",
        )
        .orderBy("event_type", "p")
    )


def _sql_hist_quantiles() -> str:
    ps = ", ".join(f"({p!r})" for p in _HQ_PS)
    return f"""
WITH stats AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx, count(*) AS n
  FROM events GROUP BY 1),
binned AS (
  SELECT e.event_type,
         CAST(CASE WHEN s.mx > s.mn
              THEN least({_HQ_BINS - 1},
                         floor((e.value - s.mn) / ((s.mx - s.mn) / {float(_HQ_BINS)!r})))
              ELSE 0 END AS BIGINT) AS b
  FROM events e JOIN stats s USING (event_type)),
counts AS (SELECT event_type, b, count(*) AS c FROM binned GROUP BY 1, 2),
cum AS (
  SELECT event_type, b,
         sum(c) OVER (PARTITION BY event_type ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts),
hit AS (
  SELECT c.event_type, p.p, s.mn, s.mx, s.n, min(c.b) AS b
  FROM cum c JOIN stats s USING (event_type),
       (VALUES {ps}) p(p)
  WHERE c.cum >= ceil(p.p * s.n)
  GROUP BY 1, 2, 3, 4, 5)
SELECT event_type, p,
       {O.sql_r4(f"mn + b * ((mx - mn) / {float(_HQ_BINS)!r})")} AS est, n
FROM hit ORDER BY event_type, p
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by salted doc-id hash
    — reproducible across runs/partitionings (df.randomSplit is neither),
    disjoint and exhaustive by construction. Output: per (lang, split)
    counts — the sanity table every dataset card ships."""
    docs = _t(spark, sf_dir, "documents")
    h = X.hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


def _sql_dataset_split() -> str:
    h = f"{O.sql_hash64(chr(39) + 'split:' + chr(39) + ' || doc_id')} % 100"
    return f"""
SELECT lang,
       CASE WHEN {h} < 80 THEN 'train' WHEN {h} < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2 ORDER BY lang, split
"""


def q_rolling_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME rolling aggregate: per user, the sum/count of purchase
    value over the trailing 7 DAYS (RANGE frame over unix seconds, not a
    row count — irregular event spacing makes ROWS frames wrong). One
    keyed window shuffle; the range frame is evaluated with a sliding
    two-pointer inside each partition — linear, not quadratic, at scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return (
        ev.select(
            "user_id",
            _fmt_ts(F.col("ts"), with_micros=True).alias("ts"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w), 4)
            .cast("double")
            .alias("roll_value"),
            F.count(F.lit(1)).over(w).alias("roll_n"),
        )
        .orderBy("user_id", "ts")
    )


SQL_ROLLING_7D = f"""
SELECT user_id, {SQL_TS_US.format('ts')} AS ts,
       round(sum(CAST(value AS DECIMAL(18,4))) OVER w, 4)::DOUBLE AS roll_value,
       count(*) OVER w AS roll_n
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts
"""


def q_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout round-trip: documents written
    ``partitionBy(lang)``, read back with a partition filter — the
    directory pruning that makes per-language jobs touch 1/N of a 100 TB
    corpus (pytest asserts the file-level pruning; here the oracle pins
    the content equality of one pruned partition).

    Write shape: keyed ``repartition(lang)`` INTO ``partitionBy(lang)`` —
    each writer task owns whole partition directories, so the file count
    stays one-per-partition instead of tasks×partitions small files at
    scale. The reader's round-robin spread is bypassed (spread=False): a
    placement exchange immediately before a keyed exchange is a pure
    double-shuffle (r3's 1.7× regression on this query; keyed-only
    measured 0.41 s vs 0.93 s at sf0.1)."""
    from ingestion_scripts_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents", spread=False)
    tmp = _scratch(prefix="part_sink_")
    docs.repartition("lang").write.mode("overwrite").partitionBy("lang").parquet(tmp)
    back = spark.read.parquet(tmp).filter(F.col("lang") == "en")
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_len"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


SQL_PARTITIONED_SINK = """
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_len,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents WHERE lang = 'en' GROUP BY 1 ORDER BY source
"""


def q_bigram_backoff_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with STUPID BACKOFF (Brants et al. 2007) scoring, the
    n-gram step past unigram_ppl: counts come from the TRAIN split only
    (the dataset_split hash rule), all documents are scored — held-out
    docs hit unseen bigrams, so the backoff path (alpha=0.4 times the
    add-one unigram) genuinely executes. score(w_i|w_{i-1}) =
    c(bi)/c(w_{i-1}) when the bigram was seen, else 0.4 * (c(w_i)+1) /
    (N+V+1); first token scores as unigram. Per-doc mean NLL, r4.

    Scale shape: two keyed count aggregations (partials), one shuffle
    join of doc bigrams to the bigram table on a 64-bit key, unigram
    table joins twice. No driver state at all."""
    docs = _t(spark, sf_dir, "documents")
    h = X.hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    toks = docs.select(
        "doc_id", (h < 80).alias("is_train"),
        X.tokenize_ws(X.clean_text(F.col("text"))).alias("t"),
    )
    tok = toks.select(
        "doc_id", "is_train", F.posexplode("t").alias("pos", "w")
    ).withColumn("w_prev", F.lag("w").over(
        Window.partitionBy("doc_id").orderBy("pos")
    ))
    train = tok.filter(F.col("is_train"))
    uni = train.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    bi = (
        train.filter(F.col("w_prev").isNotNull())
        .groupBy("w_prev", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    # fully lazy: N and V join in as broadcast 1-row aggregates (the
    # oracle's n/v CTEs) — no job fires at query-build time. bigint + 1
    # promotes the divide to double, same value as the old Python-float
    # denominator (integer-exact inputs).
    nv = train.agg(F.count(F.lit(1)).alias("__n_total")).crossJoin(
        uni.agg(F.count(F.lit(1)).alias("__vv"))
    )
    scored = (
        tok.join(uni.withColumnRenamed("cu", "cu_w"), "w", "left")
        .join(
            uni.select(F.col("w").alias("w_prev"), F.col("cu").alias("cu_prev")),
            "w_prev",
            "left",
        )
        .join(bi, ["w_prev", "w"], "left")
        .crossJoin(F.broadcast(nv))
        .withColumn(
            "__lp",
            F.when(
                F.col("w_prev").isNotNull() & F.col("cb").isNotNull(),
                F.log(F.col("cb") / F.col("cu_prev")),
            ).otherwise(
                F.when(F.col("w_prev").isNotNull(), F.log(F.lit(0.4))).otherwise(
                    F.lit(0.0)
                )
                + F.log(
                    (F.coalesce(F.col("cu_w"), F.lit(0)) + 1.0)
                    / (F.col("__n_total") + F.col("__vv") + F.lit(1))
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            TA.r4(-F.sum("__lp") / F.count(F.lit(1))).alias("nll"),
        )
    )
    return scored.orderBy("doc_id")


def _sql_bigram_backoff() -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    h = f"{O.sql_hash64(chr(39) + 'split:' + chr(39) + ' || doc_id')} % 100"
    return f"""
WITH base AS (SELECT doc_id, {toks} AS tk FROM documents),
ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) + 1),
                i -> struct_pack(pos := i, w := tk[i]))) AS u
  FROM base),
tok AS (
  SELECT doc_id, ({h}) < 80 AS is_train, u.pos AS pos, u.w AS w,
         lag(u.w) OVER (PARTITION BY doc_id ORDER BY u.pos) AS w_prev
  FROM ex),
train AS (SELECT * FROM tok WHERE is_train),
uni AS (SELECT w, count(*) AS cu FROM train GROUP BY 1),
bi AS (SELECT w_prev, w, count(*) AS cb FROM train
       WHERE w_prev IS NOT NULL GROUP BY 1, 2),
n AS (SELECT count(*) AS n_total FROM train),
v AS (SELECT count(*) AS vv FROM uni),
scored AS (
  SELECT t.doc_id,
         CASE WHEN t.w_prev IS NOT NULL AND b.cb IS NOT NULL
              THEN ln(b.cb / up.cu)
              ELSE (CASE WHEN t.w_prev IS NOT NULL THEN ln(0.4) ELSE 0.0 END)
                   + ln((coalesce(uw.cu, 0) + 1.0) / (n.n_total + v.vv + 1))
         END AS lp
  FROM tok t
  LEFT JOIN uni uw ON uw.w = t.w
  LEFT JOIN uni up ON up.w = t.w_prev
  LEFT JOIN bi b ON b.w_prev = t.w_prev AND b.w = t.w, n, v)
SELECT doc_id, count(*) AS n_toks,
       floor((-sum(lp) / count(*)) * 10000.0 + 0.5) / 10000.0 AS nll
FROM scored GROUP BY 1 ORDER BY doc_id
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) as a Spark driver
    loop: 8 merge rounds over the cached word-frequency vocab (never the
    corpus), each round = narrow pair-explode + tiny keyed count + 1-row
    argmax collect. The DuckDB oracle re-derives every round from scratch
    — the merge TABLE, the artifact a tokenizer ships, is what's
    differential-tested. See operators/bpe.py for the scale argument."""
    from ingestion_scripts_spark.operators.bpe import bpe_fit

    docs = _t(spark, sf_dir, "documents")
    return bpe_fit(spark, docs, "text", n_merges=8).orderBy("rank")


def _sql_bpe_merges() -> str:
    from ingestion_scripts_spark.operators.bpe import sql_bpe_merges

    return sql_bpe_merges(n_merges=8)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE APPLY step: tokenize the corpus with the merges learned by
    bpe_merges — per document, word count and symbol count under the
    trained tokenizer (the token-accounting pass that prices a corpus for
    training). The word→symbol-count mapping is vocab-sized and joins
    back to the exploded corpus; the oracle re-derives the merges AND the
    mapping from scratch in SQL and must land on identical counts."""
    from ingestion_scripts_spark.operators.bpe import bpe_apply

    docs = _t(spark, sf_dir, "documents")
    return bpe_apply(spark, docs, "text", "doc_id", n_merges=8).orderBy("doc_id")


def _sql_bpe_tokenize() -> str:
    from ingestion_scripts_spark.operators.bpe import sql_bpe_apply

    return sql_bpe_apply(n_merges=8)


def q_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 on an ORC source: documents round-tripped through ORC (Spark's
    built-in columnar alternative to parquet) with an explicit schema on
    re-read, then aggregated per (lang, source). The oracle reads the
    parquet directly — the round-trip must be lossless."""
    docs = _t(spark, sf_dir, "documents")
    tmp = _scratch(prefix="orc_src_")
    docs.select("doc_id", "text", "lang", "source", "n_chars").coalesce(
        4
    ).write.mode("overwrite").orc(tmp)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    back = spark.read.schema(schema).orc(tmp)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .orderBy("lang", "source")
    )


SQL_ORC_SOURCE = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_text_len
FROM documents GROUP BY 1, 2 ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# r3 additions (registry position 51+ this round; enter the driver window in
# r4 per the ROADMAP bookkeeping rule)
# ---------------------------------------------------------------------------

def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-ranked exact dedup: among byte-identical documents keep the
    HIGHEST-quality copy (then lowest doc_id), not an arbitrary one — the
    survivor policy a web-curation pipeline actually wants when the same
    page was captured several times with different boilerplate. One keyed
    window over the text hash; no join, no all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    q = TA.quality_score(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        X.hash64(F.col("text")).alias("__h"),
        q["quality"].alias("quality"),
    )
    return (
        D.survivor_dedup(scored, ["__h"], ["quality"], ["doc_id"])
        .select("doc_id", "lang", "source", "quality")
        .orderBy("doc_id")
    )


SQL_BEST_SURVIVOR = f"""
WITH scored AS (
  SELECT doc_id, lang, source, {{h}} AS __h, {{q}} AS quality FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY __h
        ORDER BY quality DESC, doc_id) AS rn FROM scored)
SELECT doc_id, lang, source, quality FROM r WHERE rn = 1 ORDER BY doc_id
""".format(h=O.sql_hash64("text"), q=O.sql_quality("text")["quality"])


def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate profiling (diagnostic twin of segment_dedup): per
    document, the fraction of its fixed 8-word segments that occur in >= 2
    distinct documents — the report a curation run consults to choose the
    line-dedup threshold BEFORE destructively rewriting a 100 TB corpus."""
    docs = _t(spark, sf_dir, "documents")
    return D.segment_df_stats(docs, seg_words=8, boiler_df=2).orderBy("doc_id")


SQL_BOILERPLATE = f"""
WITH toks AS (SELECT doc_id, {O.sql_tokenize_ws('text')} AS t FROM documents),
idx AS (SELECT doc_id, t,
               unnest(generate_series(0, (ceil(len(t)/8.0))::INT - 1)) AS i
        FROM toks),
seg AS (SELECT doc_id,
               array_to_string(list_slice(t, i*8+1, i*8+8), ' ') AS seg
        FROM idx),
cnt AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY seg),
per AS (SELECT s.doc_id, count(*) AS n_seg,
               sum(CASE WHEN c.seg_df >= 2 THEN 1 ELSE 0 END) AS n_boiler
        FROM seg s JOIN cnt c USING (seg) GROUP BY s.doc_id)
SELECT d.doc_id, coalesce(p.n_seg, 0)::BIGINT AS n_seg,
       coalesce(p.n_boiler, 0)::BIGINT AS n_boiler,
       {O.sql_r4("CASE WHEN coalesce(p.n_seg, 0) > 0"
                 " THEN p.n_boiler::DOUBLE / p.n_seg ELSE 0.0 END")}
         AS boiler_frac
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


def q_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (gap fill): per-user daily event counts with
    explicit zero rows for silent days inside each user's activity span —
    ``sequence(min_day, max_day)`` + explode generates the calendar
    engine-side (narrow, one row per user-day), then a co-partitioned left
    join attaches observed counts. The time-series shape every retention /
    anomaly job needs; no driver-side calendar, no cross join against a
    global date dimension."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    cal = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


SQL_DAILY_GAPFILL = """
WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
               FROM events GROUP BY 1, 2),
spans AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
                 max(CAST(ts AS DATE)) AS d1
          FROM events GROUP BY 1),
cal AS (SELECT user_id,
               unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                      INTERVAL 1 DAY))::DATE AS day
        FROM spans)
SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
       coalesce(d.n_events, 0)::BIGINT AS n_events
FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
ORDER BY c.user_id, day
"""


def q_interval_join_hot_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine interval (range-only) join: derive the 5 busiest purchase
    hours, widen each to a [-30 min, +90 min) window, then join ALL events
    falling inside any window — overlapping intervals mean an event can
    match several, which no equi-key rewrite expresses. The interval side
    is aggregated and tiny, so the engine broadcasts it (BroadcastNestedLoop
    — the right physical strategy for small-interval × big-fact at 100 TB;
    the top-5 window runs over the per-hour aggregate, bounded by calendar
    hours, not event count)."""
    ev = _t(spark, sf_dir, "events").select("ts", "event_type")
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
    )
    joined = ev.join(
        F.broadcast(ivals),
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")),
    )
    return (
        joined.groupBy(_fmt_ts(F.col("h0")).alias("win_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("win_start", "event_type")
    )


SQL_INTERVAL_JOIN = """
WITH hot AS (SELECT date_trunc('hour', ts) AS h0, count(*) AS n_purch
             FROM events WHERE event_type = 'purchase' GROUP BY 1),
top AS (SELECT h0 FROM (SELECT h0, row_number() OVER
          (ORDER BY n_purch DESC, h0) AS rn FROM hot) WHERE rn <= 5),
iv AS (SELECT h0, h0 - INTERVAL 30 MINUTE AS lo,
              h0 + INTERVAL 90 MINUTE AS hi FROM top)
SELECT strftime(iv.h0, '%Y-%m-%d %H:%M:%S') AS win_start, e.event_type,
       count(*) AS n
FROM events e JOIN iv ON e.ts >= iv.lo AND e.ts < iv.hi
GROUP BY 1, 2 ORDER BY win_start, event_type
"""


def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — THE shuffle-elimination story for a
    repeatedly-joined 100 TB fact pair: both sides written bucketed+sorted
    by the join key, so the join is a pure streaming merge of pre-sorted
    bucket files with NO Exchange (pinned by tests/test_bucketing.py).
    Here the write happens inline to keep the query self-contained; in
    production the bucketed layout is written once and amortized over
    every subsequent join."""
    from ingestion_scripts_spark.operators.bucketing import write_bucketed

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount"
    )
    loc = _scratch(prefix="bktq_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktq LOCATION '{loc}'")
    write_bucketed(orders, "bktq.bkt_orders", "o_orderkey", 8)
    write_bucketed(li, "bktq.bkt_lineitem", "o_orderkey", 8)
    j = spark.table("bktq.bkt_lineitem").join(
        spark.table("bktq.bkt_orders"), "o_orderkey"
    )
    return (
        j.groupBy("o_orderpriority")
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
        .orderBy("o_orderpriority")
    )


SQL_BUCKETED_JOIN = """
SELECT o_orderpriority,
  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE
    AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_winsorized_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: winsorized mean of document length per
    language (clip at that language's p05/p95 before averaging) — the
    outlier-insensitive size profile used when a handful of giant docs
    would otherwise dominate corpus budgeting. Two passes over a narrow
    projection: exact per-group quantiles (tiny result, broadcast back),
    then one clipped aggregate."""
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    qs = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    clipped = docs.join(F.broadcast(qs), "lang").select(
        "lang",
        F.col("n_chars").cast("double").alias("raw"),
        F.least(
            F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")
        ).alias("clip"),
    )
    return (
        clipped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            TA.r4(F.avg("raw")).alias("mean_chars"),
            TA.r4(F.avg("clip")).alias("wins_mean_chars"),
        )
        .orderBy("lang")
    )


SQL_WINSORIZED = f"""
WITH q AS (SELECT lang, quantile_cont(n_chars, 0.05) AS p05,
                  quantile_cont(n_chars, 0.95) AS p95
           FROM documents GROUP BY lang)
SELECT d.lang, count(*) AS n_docs,
       {O.sql_r4('avg(n_chars::DOUBLE)')} AS mean_chars,
       {O.sql_r4('avg(least(greatest(n_chars::DOUBLE, p05), p95))')}
         AS wins_mean_chars
FROM documents d JOIN q ON d.lang = q.lang
GROUP BY d.lang ORDER BY d.lang
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot reconciliation: FULL OUTER join of two table snapshots
    (orders before/after a cutoff date here) classifying every key as
    added / removed / changed / unchanged — the diff report every
    incremental-ingest pipeline runs to validate a load. One co-partitioned
    full-outer join on the key; the classification is a narrow CASE."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    # two deterministic synthetic snapshots: the "new" load adds 1997
    # orders, drops every 13th key (upstream deletions) and corrects the
    # status of every 97th (upstream updates) — exercising all 4 classes
    old = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01")).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("old_status"),
    )
    new = (
        orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
        .filter(F.col("o_orderkey") % 13 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 97 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("new_status"),
        )
    )
    diff = old.join(new, "k", "full_outer").select(
        "k",
        F.when(F.col("old_status").isNull(), F.lit("added"))
        .when(F.col("new_status").isNull(), F.lit("removed"))
        .when(F.col("old_status") != F.col("new_status"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    return (
        diff.groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change")
    )


SQL_SNAPSHOT_DIFF = """
WITH old AS (SELECT o_orderkey AS k, o_orderstatus AS old_status
             FROM orders WHERE o_orderdate < DATE '1997-01-01'),
new AS (SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 97 = 0 THEN 'X'
                    ELSE o_orderstatus END AS new_status
        FROM orders
        WHERE o_orderdate < DATE '1998-01-01' AND o_orderkey % 13 <> 0)
SELECT CASE WHEN old_status IS NULL THEN 'added'
            WHEN new_status IS NULL THEN 'removed'
            WHEN old_status <> new_status THEN 'changed'
            ELSE 'unchanged' END AS change,
       count(*) AS n
FROM old FULL OUTER JOIN new USING (k)
GROUP BY 1 ORDER BY change
"""


def q_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth: weekly purchase value with lag() and percent
    change — the lag runs over the tiny per-week aggregate (bounded by
    calendar weeks, not event count), so the single-partition window is
    safe by construction at any corpus size."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").alias("wk")
    ).agg(TA.r4(F.sum("value")).alias("wk_value"))
    w = Window.orderBy("wk")
    prev = F.lag("wk_value").over(w)
    return (
        weekly.select(
            F.date_format("wk", "yyyy-MM-dd").alias("week"),
            "wk_value",
            TA.r4(
                F.when(prev > 0, (F.col("wk_value") - prev) / prev)
            ).alias("wow_change"),
        )
        .orderBy("week")
    )


SQL_WEEKLY_GROWTH = f"""
WITH weekly AS (
  SELECT date_trunc('week', ts) AS wk,
         {O.sql_r4('sum(value)')} AS wk_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT strftime(wk, '%Y-%m-%d') AS week, wk_value,
       {O.sql_r4('CASE WHEN lag(wk_value) OVER (ORDER BY wk) > 0 THEN '
                 '(wk_value - lag(wk_value) OVER (ORDER BY wk)) / '
                 'lag(wk_value) OVER (ORDER BY wk) END')} AS wow_change
FROM weekly ORDER BY week
"""


def q_top_customer_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max aggregation: per nation, the customer holding the maximum
    balance via ``max_by`` (DuckDB ``arg_max``) — the single-pass agg form
    of 'top-1 per group' that needs NO window and NO self-join; ties are
    broken deterministically by keying the comparison on (balance, -key)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # scalar ranking key: balance in exact cents scaled past the key range,
    # minus the key — equal balances deterministically pick the LOWEST
    # custkey on both engines (round() not cast(): Spark truncates
    # double→bigint where DuckDB rounds — the ADVICE r2 bug class)
    best = cust.groupBy("c_nationkey").agg(
        F.expr(
            "max_by(c_custkey,"
            " CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 - c_custkey)"
        ).alias("top_custkey"),
        F.max("c_acctbal").alias("top_acctbal"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    return (
        best.join(F.broadcast(nation), best.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "top_custkey",
            F.col("top_acctbal").cast("double").alias("top_acctbal"),
            "n_cust",
        )
        .orderBy("n_name")
    )


SQL_TOP_CUSTOMER = """
SELECT n_name,
       arg_max(c_custkey,
               CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 - c_custkey)
         AS top_custkey,
       max(c_acctbal)::DOUBLE AS top_acctbal,
       count(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_custom_feed_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
    engine's model for plugging a brand-new external feed system in as a
    first-class ``spark.read.format(...)`` source — declared schema,
    options, and RANGE-SHARDED partition planning (each executor
    materializes only its slice, the way a real connector shards a feed
    list). Rows are a pure function of the row index, so the DuckDB twin
    reproduces the dataset exactly — the source itself is
    differential-tested, not just the transforms over it."""
    from ingestion_scripts_spark.sources.feed_datasource import register

    register(spark)
    feeds = (
        spark.read.format("feed_fixture")
        .option("rows", "5000")
        .option("numPartitions", "8")
        .load()
    )
    return (
        feeds.groupBy("feed_source")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("score").alias("total_score"),
            F.max("item_id").alias("max_item"),
        )
        .orderBy("feed_source")
    )


def _sql_custom_feed() -> str:
    from ingestion_scripts_spark.sources.feed_datasource import sql_feed_rows

    return f"""
SELECT feed_source, count(*) AS n_items,
       CAST(sum(score) AS BIGINT) AS total_score,
       max(item_id) AS max_item
FROM ({sql_feed_rows(5000)})
GROUP BY feed_source ORDER BY feed_source
"""


def q_stream_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource as a STREAM: offset-tracked micro-batch
    reads (Kafka-ish contract — monotone offsets, replayable ranges,
    commit) through ``simpleStreamReader``, drained to exhaustion into a
    memory sink. 2000 rows at 250 rows/poll = 8 real micro-batches; the
    aggregate over the drained table must equal the batch row law — the
    oracle can't see offsets, so equality proves the offset ranges tiled
    the stream exactly once (no drop, no double-serve at batch seams)."""
    import uuid

    from ingestion_scripts_spark.sources.feed_datasource import register

    register(spark)
    stream = (
        spark.readStream.format("feed_fixture")
        .option("rows", "2000")
        .option("batchRows", "250")
        .load()
    )
    name = "stream_feed_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _scratch(prefix="ckpt_feed_"))
        .start()
    )
    # availableNow would stop at the offset prefetched at query start (one
    # poll); processAllAvailable drains until the source is exhausted —
    # well-defined here because the feed caps itself at `rows`
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("feed_source")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("score").alias("total_score"),
            F.max("item_id").alias("max_item"),
        )
        .orderBy("feed_source")
    )


def _sql_stream_custom_feed() -> str:
    from ingestion_scripts_spark.sources.feed_datasource import sql_feed_rows

    return f"""
SELECT feed_source, count(*) AS n_items,
       CAST(sum(score) AS BIGINT) AS total_score,
       max(item_id) AS max_item
FROM ({sql_feed_rows(2000)})
GROUP BY feed_source ORDER BY feed_source
"""


# ---------------------------------------------------------------------------
# r3 batch 2: Spark-4 native surfaces (VARIANT, UDTF-with-TABLE, unpivot,
# try_cast) + the ingestion ops around them (DQ expectations, URL
# canonicalization, accent normalization, EWMA, Markov transitions)
# ---------------------------------------------------------------------------


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation gate: null / unique / range / FK checks,
    one aggregate pass per table, unioned into a small report (the
    declarative restatement of the reference's per-record faust.Record
    validation, ``src/records.py``). Each check is a map-side-combined
    aggregate; the FK check is one join against distinct parent keys."""
    from ingestion_scripts_spark.operators import dq

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")
    report = dq.dq_report(
        [
            dq.expect_not_null(orders, "o_orderdate"),
            dq.expect_unique(customer, "c_custkey"),
            dq.expect_range(lineitem, "l_quantity", 1, 50),
            dq.expect_fk(orders, "o_custkey", customer, "c_custkey"),
            dq.expect_range(events, "value", 0, 1e9),
        ]
    )
    return report.select(
        F.col("check").alias("check_name"), "n_bad", "n_total", "passed"
    ).orderBy("check_name")


SQL_DQ_CHECKS = """
SELECT * FROM (
  SELECT 'not_null:o_orderdate' AS check_name,
         CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) AS n_bad,
         CAST(count(*) AS BIGINT) AS n_total,
         count(*) FILTER (WHERE o_orderdate IS NULL) = 0 AS passed
  FROM orders
  UNION ALL
  SELECT 'unique:c_custkey',
         CAST(count(c_custkey) - count(DISTINCT c_custkey) AS BIGINT),
         CAST(count(*) AS BIGINT),
         count(c_custkey) - count(DISTINCT c_custkey) = 0
  FROM customer
  UNION ALL
  SELECT 'range:l_quantity',
         CAST(count(*) FILTER (WHERE l_quantity IS NOT NULL
                                 AND (l_quantity < 1 OR l_quantity > 50)) AS BIGINT),
         CAST(count(*) AS BIGINT),
         count(*) FILTER (WHERE l_quantity IS NOT NULL
                            AND (l_quantity < 1 OR l_quantity > 50)) = 0
  FROM lineitem
  UNION ALL
  SELECT 'fk:o_custkey',
         CAST(count(*) FILTER (WHERE o_custkey NOT IN
               (SELECT c_custkey FROM customer)) AS BIGINT),
         CAST(count(*) AS BIGINT),
         count(*) FILTER (WHERE o_custkey NOT IN
               (SELECT c_custkey FROM customer)) = 0
  FROM orders
  UNION ALL
  SELECT 'range:value',
         CAST(count(*) FILTER (WHERE value IS NOT NULL
                                 AND (value < 0 OR value > 1e9)) AS BIGINT),
         CAST(count(*) AS BIGINT),
         count(*) FILTER (WHERE value IS NOT NULL
                            AND (value < 0 OR value > 1e9)) = 0
  FROM events
) ORDER BY check_name
"""


def q_sessionize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize via a Spark-4 Python UDTF with a TABLE argument
    (``PARTITION BY user_id ORDER BY ts``): the declarative twin of the
    reference's per-key agent loop (``src/*_consumer.py`` coroutines hold
    per-key running state). Same 30-min-gap law and output shape as
    ``q_sessionize`` — the two share one oracle. The window-cascade form
    stays the default at scale; this pins the imperative-state surface."""
    from ingestion_scripts_spark.functions.udtfs import SessionizeUDTF

    spark.udtf.register("sessionize_udtf", SessionizeUDTF)
    _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).createOrReplaceTempView("events_udtf_in")
    return spark.sql(
        """
        SELECT user_id, session_id, session_start, session_end, n_events
        FROM sessionize_udtf(
          TABLE(SELECT user_id, ts, event_id FROM events_udtf_in)
          PARTITION BY user_id ORDER BY (ts, event_id))
        """
    )


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type
    (``parse_json`` → ``variant_get``) instead of per-access JSON
    re-parsing: at 100 TB the props column is parsed ONCE into a binary
    variant and every field access is a cheap typed extraction. Oracle is
    plain ``json_extract`` — the values must agree exactly."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


__all__ = [n for n in globals() if not n.startswith("__")]
