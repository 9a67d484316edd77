"""Registry implementation, part 07 — r6 batch-4 additions (nDCG@k and
Zipf-slope corpus health)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.caching import persist_tracked
from ingestion_scripts_spark.functions import text as X
from ingestion_scripts_spark.operators import text_analysis as TA
from ingestion_scripts_spark.registry.part06 import *  # noqa: F401,F403


def q_ndcg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source nDCG@10 (profiling.py::ndcg_at_k) of document length
    ranking GRADED language relevance (en=3, de/fr=2, es=1, zh=0) — the
    graded, position-discounted leg of the ranking-eval family
    (roc_auc_quality: balanced binary; avg_precision_quality: imbalanced
    binary). Discounts are a frozen integer table so neither engine
    evaluates log2 at query time."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    rel = (
        F.when(F.col("lang") == "en", 3)
        .when(F.col("lang").isin("de", "fr"), 2)
        .when(F.col("lang") == "es", 1)
        .otherwise(0)
    )
    out = PR.ndcg_at_k(docs, "source", F.col("n_chars"), rel, "doc_id", k=10)
    return out.select(
        F.col("g").alias("source"), "dcg_micro", "idcg_micro", "ndcg"
    ).orderBy("source")


def _sql_ndcg_quality(k: int = 10) -> str:
    from ingestion_scripts_spark.operators.profiling import ndcg_discounts_micro

    disc = ndcg_discounts_micro(k)
    case = "CASE {rank} " + " ".join(
        f"WHEN {i + 1} THEN {d}" for i, d in enumerate(disc)
    ) + " ELSE 0 END"
    return f"""
WITH base AS (
  SELECT source AS g,
         CAST(n_chars AS BIGINT) AS s,
         CAST(CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 WHEN 'fr' THEN 2
                        WHEN 'es' THEN 1 ELSE 0 END AS BIGINT) AS rel,
         doc_id AS id
  FROM documents),
ranked AS (
  SELECT g, rel,
         row_number() OVER (PARTITION BY g ORDER BY s DESC, id ASC) AS ip,
         row_number() OVER (PARTITION BY g ORDER BY rel DESC, id ASC) AS ii
  FROM base),
agg AS (
  SELECT g,
         CAST(sum(CASE WHEN ip <= {k}
                       THEN rel * ({case.format(rank='ip')}) ELSE 0 END)
              AS BIGINT) AS dcg_micro,
         CAST(sum(CASE WHEN ii <= {k}
                       THEN rel * ({case.format(rank='ii')}) ELSE 0 END)
              AS BIGINT) AS idcg_micro
  FROM ranked GROUP BY g)
SELECT g AS source, dcg_micro, idcg_micro,
       CASE WHEN idcg_micro > 0
            THEN floor(dcg_micro * 1000000.0 / idcg_micro + 0.5) / 1000000.0
       END AS ndcg
FROM agg ORDER BY source
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf-law fit (text_analysis.py::zipf_slope): OLS slope
    of ln(freq) on ln(rank) over the top-200 RAW tokens (stopwords stay
    in — they ARE the Zipf head). Natural text sits near -1; template
    spam flattens toward 0; the log points are micro-snapped so the OLS
    sums are exact integers (partition-order independent)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", X.tokenize_ws(X.clean_text(F.col("text"))).alias("t")
    )
    out = TA.zipf_slope(toks, "source", "t", top_n=200)
    return out.select(F.col("g").alias("source"), "n_points", "slope").orderBy(
        "source"
    )


def _sql_zipf_slope(top_n: int = 200) -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    return f"""
WITH toks AS (SELECT source AS g, unnest({toks}) AS t FROM documents),
tf AS (SELECT g, t, count(*) AS c FROM toks GROUP BY 1, 2),
pts AS (
  SELECT g,
         CAST(floor(ln(rnk::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(c::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM (SELECT g, c,
               row_number() OVER (PARTITION BY g ORDER BY c DESC, t ASC) AS rnk
        FROM tf)
  WHERE rnk <= {top_n}),
agg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY g)
SELECT g AS source, n AS n_points,
       CASE WHEN n >= 3 AND (n * sxx - sx * sx) <> 0
            THEN floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                       * 10000.0 + 0.5) / 10000.0
       END AS slope
FROM agg ORDER BY source
"""


def q_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage selection of 5 documents by vocabulary gain
    (text_analysis.py::max_coverage_select) — the set-cover diversifier:
    submodular greedy, gains non-increasing, 1-1/e of optimal."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", X.tokenize_ws(X.clean_text(F.col("text"))).alias("t")
    )
    return TA.max_coverage_select(toks, "doc_id", "t", k=5).orderBy("rank")


def _sql_max_coverage(k: int = 5) -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    parts = [
        f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, list_distinct({toks}) AS t FROM documents),
c1 AS MATERIALIZED (
  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS gain
  FROM d ORDER BY len(t) DESC, doc_id ASC LIMIT 1),
cov1 AS MATERIALIZED (SELECT list_distinct(t) AS cov FROM c1)"""
    ]
    for r in range(2, k + 1):
        prev_ids = " UNION ALL ".join(
            f"SELECT doc_id FROM c{i}" for i in range(1, r)
        )
        parts.append(
            f""",
c{r} AS MATERIALIZED (
  SELECT d.doc_id, d.t,
         CAST(len(list_filter(d.t,
              x -> NOT list_contains(cov.cov, x))) AS BIGINT) AS gain
  FROM d, cov{r - 1} cov
  WHERE d.doc_id NOT IN ({prev_ids})
  ORDER BY gain DESC, d.doc_id ASC LIMIT 1),
cov{r} AS MATERIALIZED (
  SELECT list_distinct((SELECT cov FROM cov{r - 1}) || (SELECT t FROM c{r}))
    AS cov)"""
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, doc_id, gain FROM c{r}"
        for r in range(1, k + 1)
    )
    parts.append(f"\n{sel}\nORDER BY rank")
    return "".join(parts)


def q_source_unique_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out vocabulary attribution per source
    (text_analysis.py::source_unique_vocab): the fraction of each
    source's vocabulary that exists nowhere else — the cheap
    data-valuation signal for source weighting."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", X.tokenize_ws(X.clean_text(F.col("text"))).alias("t")
    )
    out = TA.source_unique_vocab(toks, "source", "t")
    return out.select(
        F.col("g").alias("source"), "vocab", "unique_vocab", "unique_ratio"
    ).orderBy("source")


def _sql_source_unique_vocab() -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    return f"""
WITH ts AS (
  SELECT DISTINCT g, t FROM (
    SELECT source AS g, unnest({toks}) AS t FROM documents)),
sc AS (SELECT t, count(*) AS ns FROM ts GROUP BY 1),
per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS unique_vocab
  FROM ts JOIN sc USING (t) GROUP BY g)
SELECT g AS source, vocab, unique_vocab,
       floor(unique_vocab * 10000.0 / vocab + 0.5) / 10000.0 AS unique_ratio
FROM per ORDER BY source
"""


def q_ppr_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the part seed whitelist (node % 97 == 0
    — the same seed set bfs_hops_coorder measures hop distance from) over
    the WEIGHTED symmetrized co-order graph: the crawl-frontier
    prioritizer (graph.py::personalized_pagerank_int). BFS answers "how
    far from the seeds"; PPR answers "how much trusted mass flows here",
    which is the actual scheduling signal."""
    from ingestion_scripts_spark.operators import graph as G

    e0 = _coorder_edges(spark, sf_dir)
    edges = e0.select("a", "b", "w").union(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    nodes = edges.select(F.col("a").alias("node")).distinct()
    seeds = nodes.where(F.col("node") % 97 == 0)
    out = G.personalized_pagerank_int(edges, "a", "b", "w", seeds, "node", iters=3)
    return out.orderBy(F.col("ppr_u").desc(), "node")


def _sql_ppr_coorder(iters: int = 3) -> str:
    its, prev = [], "r0"
    for i in range(1, iters + 1):
        its.append(
            f"""it{i} AS MATERIALIZED (
  SELECT n.node, n.s,
         CAST(n.s * 150000 + (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS r
  FROM flagged n LEFT JOIN (
    SELECT e.b AS node, CAST(sum((p.r * e.w) // e.wt) AS BIGINT) AS c
    FROM e JOIN {prev} p ON e.a = p.node
    GROUP BY e.b) c ON n.node = c.node)"""
        )
        prev = f"it{i}"
    return f"""
WITH bsk AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
e1 AS MATERIALIZED (
  SELECT x.it AS a, y.it AS b, count(*)::BIGINT AS w
  FROM bsk x JOIN bsk y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2),
e0 AS MATERIALIZED (
  SELECT a, b, w FROM e1 UNION ALL SELECT b, a, w FROM e1),
e AS MATERIALIZED (
  SELECT e0.a, e0.b, e0.w, o.wt
  FROM e0 JOIN (SELECT a, sum(w)::BIGINT AS wt FROM e0 GROUP BY a) o
    ON e0.a = o.a),
flagged AS MATERIALIZED (
  SELECT node, CAST(CASE WHEN node % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS s
  FROM (SELECT DISTINCT a AS node FROM e0)),
r0 AS (SELECT node, s, CAST(s * 1000000 AS BIGINT) AS r FROM flagged),
{",".join(its)}
SELECT node, r AS ppr_u, r / 1000000.0 AS ppr
FROM {prev} ORDER BY ppr_u DESC, node
"""


def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation dedup funnel END-TO-END: stage attrition through
    exact-hash dedup → MinHash-LSH near-dup removal (greedy
    lower-id-survives over the banded pairs) → shared-segment dominance
    (drop docs whose 8-word segments are mostly seen elsewhere) — one
    row per stage with survivors and removed. Each stage reuses the
    already-certified kernel (``dedup.exact_dedup`` law / pair LSH /
    ``segment_dedup``); the value of the composite is the ATTRITION
    REPORT a pipeline owner actually reads, and the oracle recomputes
    the entire cascade independently, so stage interactions (a near-dup
    pair whose lower member was itself an exact dup, a segment-dominated
    doc already gone at stage 2) are differentially pinned too."""
    from ingestion_scripts_spark.operators import dedup as D2

    docs = _t(spark, sf_dir, "documents")

    # Plan shape (optimization r14, guide §1.2/§5): the four stage counts
    # are counts of NESTED id sets (each removal set is a subset of the
    # stage it removes from: removed2 ⊆ d1 ids by construction — id_b of a
    # pair over d1; removed3 ⊆ d2 ids — segment stats are per-d2-doc), so
    # instead of four union branches each re-running the upstream cascade
    # (the s3 branch alone replayed exact-dedup + the full minhash verify
    # + the segment pass), persist the three SMALL id sets and derive
    # survivors arithmetically: n1 = |surv1|, n2 = n1 - |removed2|,
    # n3 = n2 - |removed3|. The heavy pipelines each run exactly once; the
    # cached state is ids only (the 100 TB-safe footprint).
    surv1 = persist_tracked(
        docs.groupBy(F.md5(F.col("text")).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = docs.select("doc_id", "text").join(surv1, "doc_id")
    pairs = D2.minhash_dedup_pairs(d1, "doc_id", "text", threshold=0.8)
    removed2 = persist_tracked(
        pairs.select(F.col("id_b").alias("doc_id")).distinct()
    )
    d2 = d1.join(removed2, "doc_id", "left_anti")
    seg = D2.segment_dedup(d2, "doc_id", "text", seg_words=8, max_docs=1)
    removed3 = persist_tracked(
        seg.filter(2 * F.col("n_kept") < F.col("n_seg")).select("doc_id")
    )

    def n(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(alias))

    one = (
        n(docs, "n0")
        .crossJoin(n(surv1, "n1"))
        .crossJoin(n(removed2, "r2"))
        .crossJoin(n(removed3, "r3"))
        .select(
            "n0",
            "n1",
            (F.col("n1") - F.col("r2")).alias("n2"),
            (F.col("n1") - F.col("r2") - F.col("r3")).alias("n3"),
        )
    )

    def st(surv, removed) -> Column:
        return F.struct(
            surv.alias("survivors"), removed.cast("bigint").alias("removed")
        )

    # wide→long via unpivot, not explode(array(struct…)): Expand multiplies
    # rows by a plan-time constant, so the plan-hygiene audit can still see
    # the terminal presentation sort's input is bounded (a Generate over
    # non-foldable struct values cannot prove that)
    return (
        one.select(
            st(F.col("n0"), F.lit(0)).alias("s0_total"),
            st(F.col("n1"), F.col("n0") - F.col("n1")).alias("s1_exact"),
            st(F.col("n2"), F.col("n1") - F.col("n2")).alias("s2_minhash"),
            st(F.col("n3"), F.col("n2") - F.col("n3")).alias("s3_segment"),
        )
        .unpivot(
            [],
            ["s0_total", "s1_exact", "s2_minhash", "s3_segment"],
            "stage",
            "x",
        )
        .select("stage", "x.survivors", "x.removed")
        .orderBy("stage")
    )


def _sql_dedup_funnel() -> str:
    sh = O.sql_shingles("text", 3)
    sig = O.sql_minhash_signature("sh", 16)
    toks = O.sql_tokenize_ws("text")
    return f"""
WITH surv1 AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
d1 AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN surv1 USING (doc_id)),
sh AS MATERIALIZED (SELECT doc_id, {sh} AS sh FROM d1),
sig AS (SELECT doc_id, sh, {sig} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4],
                                            x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
removed2 AS MATERIALIZED (
  SELECT DISTINCT id_b AS doc_id
  FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
d2 AS MATERIALIZED (
  SELECT d1.* FROM d1 LEFT JOIN removed2 USING (doc_id)
  WHERE removed2.doc_id IS NULL),
t2 AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM d2),
idx AS (SELECT doc_id, t,
               unnest(generate_series(0, (ceil(len(t)/8.0))::INT - 1)) AS i
        FROM t2),
seg AS (SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(t, i*8+1, i*8+8), ' ') AS seg
        FROM idx),
cnt AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY seg),
kept AS (SELECT s.doc_id, count(*) AS n_kept
         FROM seg s JOIN cnt c USING (seg) WHERE c.seg_df <= 1
         GROUP BY s.doc_id),
shares AS (
  SELECT t2.doc_id, (ceil(len(t2.t)/8.0))::BIGINT AS n_seg,
         coalesce(k.n_kept, 0)::BIGINT AS n_kept
  FROM t2 LEFT JOIN kept k USING (doc_id)),
removed3 AS MATERIALIZED (
  SELECT doc_id FROM shares WHERE 2 * n_kept < n_seg),
d3 AS MATERIALIZED (
  SELECT d2.doc_id FROM d2 LEFT JOIN removed3 USING (doc_id)
  WHERE removed3.doc_id IS NULL),
counts AS (
  SELECT 's0_total' AS stage, CAST(count(*) AS BIGINT) AS survivors
    FROM documents
  UNION ALL SELECT 's1_exact', CAST(count(*) AS BIGINT) FROM d1
  UNION ALL SELECT 's2_minhash', CAST(count(*) AS BIGINT) FROM d2
  UNION ALL SELECT 's3_segment', CAST(count(*) AS BIGINT) FROM d3)
SELECT stage, survivors,
       CAST(coalesce(lag(survivors) OVER (ORDER BY stage), survivors)
            - survivors AS BIGINT) AS removed
FROM counts ORDER BY stage
"""


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of product-quantized ADC search vs the exact kernel
    (similarity.py::pq_recall, m=4 subspaces x 16 centroids = 4-byte
    codes, 64x compression) — the PQ capstone of the ANN family
    (LSH buckets, IVF cells, JL projection, SQ8 scalar, PQ product)."""
    from ingestion_scripts_spark.operators.similarity import pq_recall

    emb = _t(spark, sf_dir, "embeddings")
    return pq_recall(
        emb, "vec_id", "embedding", m=4, ksub=16, iters=2, k=10, query_mod=50
    ).orderBy("query_id")


def _sql_pq_recall(
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    k: int = 10,
    query_mod: int = 50,
    dim: int = 64,
) -> str:
    from ingestion_scripts_spark.operators.clustering import sql_kmeans_ctes

    sub = dim // m
    all_ctes: list[str] = []
    fins, cents = [], []
    for j in range(m):
        pts_sql = (
            f"SELECT vec_id, (list_slice(embedding, {j * sub + 1}, "
            f"{(j + 1) * sub}))::DOUBLE[] AS v FROM embeddings"
        )
        ctes, fin, cent = sql_kmeans_ctes(
            f"p{j}", pts_sql, k=ksub, iters=iters, dim=sub
        )
        all_ctes += ctes
        fins.append(fin)
        cents.append(cent)
    code_joins = "\n  ".join(
        f"JOIN (SELECT vec_id, cluster_id AS c{j} FROM {fins[j]} WHERE rn = 1) a{j} "
        + ("USING (vec_id)" if j > 0 else "")
        for j in range(m)
    ).replace("JOIN (", "(", 1)
    d_terms = " + ".join(
        f"round(list_sum(list_transform(range(1, {sub} + 1), "
        f"i -> (q.qv[{j * sub} + i] - k{j}.c[i]) "
        f"* (q.qv[{j * sub} + i] - k{j}.c[i]))), 6)"
        for j in range(m)
    )
    cent_joins = "\n  ".join(
        f"JOIN {cents[j]} k{j} ON k{j}.cid = x.c{j}" for j in range(m)
    )
    all_ctes += [
        f"codes AS MATERIALIZED (SELECT * FROM\n  {code_joins})",
        (
            f"q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            f"FROM embeddings WHERE vec_id % {query_mod} = 0)"
        ),
        (
            f"adc AS (SELECT q.query_id, x.vec_id AS pid, {d_terms} AS d\n"
            f"  FROM q, codes x\n  {cent_joins}\n"
            "  WHERE x.vec_id <> q.query_id)"
        ),
        (
            "approx AS MATERIALIZED (SELECT query_id, pid FROM ("
            "SELECT query_id, pid, row_number() OVER (PARTITION BY query_id "
            "ORDER BY d ASC, pid ASC) AS r FROM adc) "
            f"WHERE r <= {k})"
        ),
        (
            "vm AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) "
            "AS vm FROM embeddings)"
        ),
        (
            f"tq AS (SELECT vec_id AS query_id, vm AS qm FROM vm "
            f"WHERE vec_id % {query_mod} = 0)"
        ),
        (
            f"tdist AS (SELECT t.query_id, v.vec_id AS pid, "
            f"CAST(list_sum(list_transform(range(1, {dim} + 1), "
            "i -> (t.qm[i] - v.vm[i]) * (t.qm[i] - v.vm[i]))) AS BIGINT) AS d "
            "FROM tq t, vm v WHERE v.vec_id <> t.query_id)"
        ),
        (
            "truth AS MATERIALIZED (SELECT query_id, pid FROM ("
            "SELECT query_id, pid, row_number() OVER (PARTITION BY query_id "
            "ORDER BY d ASC, pid ASC) AS r FROM tdist) "
            f"WHERE r <= {k})"
        ),
    ]
    return (
        "WITH " + ",\n".join(all_ctes) + """
SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count(a.pid) AS BIGINT) AS n_hit,
       floor(count(a.pid) * 1000000.0 / count(*) + 0.5) / 1000000.0 AS recall
FROM truth t
LEFT JOIN approx a ON a.query_id = t.query_id AND a.pid = t.pid
GROUP BY 1 ORDER BY 1
"""
    )


def q_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source split-conformal quality gate at alpha = 9/10
    (profiling.py::conformal_threshold) over document length as the
    nonconformity score: the exact finite-sample k = ceil(0.9·(n+1))
    order statistic, with empirical coverage reported."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    out = PR.conformal_threshold(
        docs, "source", F.col("n_chars"), "doc_id", alpha_num=9, alpha_den=10
    )
    return out.select(
        F.col("g").alias("source"), "n", "k", "threshold", "coverage"
    ).orderBy("source")


SQL_CONFORMAL_GATE = """
WITH base AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS s, doc_id AS id
  FROM documents),
ranked AS (
  SELECT g, s,
         row_number() OVER (PARTITION BY g ORDER BY s ASC, id ASC) AS rn
  FROM base),
kd AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST((9 * (count(*) + 1) + 9) // 10 AS BIGINT) AS k
  FROM base GROUP BY g),
thr AS (
  SELECT r.g, r.s AS threshold
  FROM ranked r JOIN kd USING (g) WHERE r.rn = kd.k),
cov AS (
  SELECT b.g,
         CAST(sum(CASE WHEN b.s <= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM base b JOIN thr t USING (g) GROUP BY b.g)
SELECT kd.g AS source, kd.n, kd.k, thr.threshold,
       CASE WHEN thr.threshold IS NOT NULL
            THEN floor(cov.n_covered * 10000.0 / kd.n + 0.5) / 10000.0
       END AS coverage
FROM kd LEFT JOIN thr USING (g) LEFT JOIN cov USING (g)
ORDER BY source
"""


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone least-squares) calibration of the same binned
    quality score calibration_bins audits
    (profiling.py::isotonic_bins): the exact minimax solution from one
    corpus aggregate + O(n_bins³) tiny-frame arithmetic."""
    from ingestion_scripts_spark.operators import profiling as PR

    docs = _t(spark, sf_dir, "documents")
    wc = F.size(X.tokenize_ws(X.clean_text(F.col("text")))).cast("bigint")
    score_u = F.least(
        F.lit(1_000_000).cast("bigint"), (wc * F.lit(12500)).cast("bigint")
    )
    base = docs.select(
        score_u.alias("__score_u"), (F.col("n_chars") >= 250).alias("__lab")
    )
    return PR.isotonic_bins(base, F.col("__score_u"), F.col("__lab")).orderBy("bin")


def _sql_isotonic_calibration(n_bins: int = 10) -> str:
    toks = O.sql_tokenize_ws(O.sql_clean_text("text"))
    return f"""
WITH base AS (
  SELECT least(1000000, CAST(len({toks}) AS BIGINT) * 12500) AS s,
         CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS y
  FROM documents),
bins AS (
  SELECT least((s * {n_bins}) // 1000000, {n_bins - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
  FROM base GROUP BY 1),
pre AS (
  SELECT bin, cn, cy,
         coalesce(lag(cn) OVER (ORDER BY bin), 0) AS pcn,
         coalesce(lag(cy) OVER (ORDER BY bin), 0) AS pcy
  FROM (SELECT bin,
               CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(sum(sy) OVER (ORDER BY bin) AS BIGINT) AS cy
        FROM bins)),
spans AS (
  -- previous PRESENT bin via lag, not bin-1: empty bins leave id gaps
  SELECT j.bin AS sj, k.bin AS sk,
         (k.cy - j.pcy) * 1000000.0 / (k.cn - j.pcn) AS a
  FROM pre j JOIN pre k ON k.bin >= j.bin),
mij AS (
  SELECT b.bin, s.sj, min(s.a) AS m
  FROM bins b JOIN spans s ON s.sj <= b.bin AND s.sk >= b.bin
  GROUP BY 1, 2),
iso AS (
  SELECT bin, CAST(floor(max(m) + 0.5) AS BIGINT) AS iso_u
  FROM mij GROUP BY 1)
SELECT b.bin, b.n, (b.sy * 1000000) // b.n AS pos_rate_u, iso.iso_u
FROM bins b JOIN iso USING (bin)
ORDER BY bin
"""


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil-Sen engagement trend over daily value
    (profiling.py::theil_sen_slope) — the robust (29% breakdown)
    complement to the OLS `user_trend_slope` on the identical daily
    pre-aggregate; a refund spike or bot burst that swings the OLS
    slope leaves the pairwise median untouched."""
    from ingestion_scripts_spark.operators import profiling as PR

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias("y")
    )
    d = daily.select(
        "user_id",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    out = PR.theil_sen_slope(d, "user_id", F.col("x"), F.col("y"))
    return out.select(F.col("g").alias("user_id"), "m", "slope_u").orderBy(
        "user_id"
    )


SQL_THEIL_SEN = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY 1, 2),
d AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', day::DATE) AS BIGINT) AS x,
         y
  FROM daily),
pairs AS (
  SELECT a.user_id AS g, a.x AS xi, b.x AS xj,
         CAST((b.y - a.y) // (b.x - a.x) AS BIGINT) AS sl
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.x < b.x),
ranked AS (
  SELECT g, sl,
         row_number() OVER (PARTITION BY g ORDER BY sl, xi, xj) AS rn,
         count(*) OVER (PARTITION BY g) AS m
  FROM pairs)
SELECT g AS user_id, CAST(m AS BIGINT) AS m, sl AS slope_u
FROM ranked WHERE rn = (m + 1) // 2
ORDER BY user_id
"""


__all__ = [n for n in globals() if not n.startswith("__")]
