"""Registry implementation, part 11 — r11 additions: suffix-style
longest-shared-span profiling between near-dup candidates (the "how much
is copied?" number beyond fixed n-grams), registrable-domain URL dedup
(the crawl-curation first pass), and the incremental two-snapshot
median/MAD/Gini off a maintained value-count histogram (ivm.py's merge +
ranking.global_cumsum)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion_scripts_spark.registry.part10 import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# suffix-style longest shared span between near-dup candidate pairs
# ---------------------------------------------------------------------------

_LSS_K = 8
_LSS_CAP = 8


def q_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication profiling BEYOND fixed n-grams: for
    every candidate pair sharing a rare {_LSS_K}-token span, the length
    of the LONGEST shared contiguous token run (operators/spans.py::
    longest_shared_span — the matched-diagonal gaps-and-islands
    re-expression of suffix-array dedup, Lee et al. 2022). The number a
    dedup triage wants per near-dup pair: 8 shared tokens is boilerplate,
    200 is a copied document."""
    from ingestion_scripts_spark.operators.spans import (
        longest_shared_span,
        shared_span_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    pairs = shared_span_pairs(docs, k=_LSS_K, max_docs_per_span=_LSS_CAP)
    return longest_shared_span(docs, pairs, k=_LSS_K).orderBy(
        F.desc("lss_tokens"), "id1", "id2"
    )


SQL_LONGEST_DUP_SPAN = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, u.pos AS pos, u.span AS span FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - {_LSS_K - 1}),
             i -> struct_pack(pos := i,
                    span := array_to_string(t[i:i+{_LSS_K - 1}], ' ')))) AS u
    FROM toks WHERE len(t) >= {_LSS_K})),
docspan AS (SELECT DISTINCT doc_id, span FROM occ),
freq AS (SELECT span, count(*) AS nd FROM docspan GROUP BY 1
         HAVING count(*) BETWEEN 2 AND {_LSS_CAP}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM docspan a JOIN freq USING (span) JOIN docspan b USING (span)
  WHERE a.doc_id < b.doc_id),
matched AS (
  SELECT p.id1, p.id2, o1.pos AS p1, o1.pos - o2.pos AS diag
  FROM pairs p
  JOIN occ o1 ON o1.doc_id = p.id1
  JOIN occ o2 ON o2.doc_id = p.id2 AND o2.span = o1.span),
runs AS (
  SELECT id1, id2, count(*) AS run
  FROM (SELECT id1, id2, diag, p1,
               p1 - row_number() OVER (PARTITION BY id1, id2, diag
                                       ORDER BY p1) AS island
        FROM matched)
  GROUP BY id1, id2, diag, island),
lss AS (SELECT id1, id2, CAST(max(run) + {_LSS_K - 1} AS BIGINT) AS lss_tokens
        FROM runs GROUP BY 1, 2)
SELECT p.id1, p.id2, CAST(coalesce(l.lss_tokens, 0) AS BIGINT) AS lss_tokens
FROM pairs p LEFT JOIN lss l USING (id1, id2)
ORDER BY lss_tokens DESC, id1, id2"""


# ---------------------------------------------------------------------------
# registrable-domain URL dedup (crawl-curation first pass)
# ---------------------------------------------------------------------------

def _synth_url() -> F.Column:
    """Deterministic messy URL per document (mixed case, multi-label
    ccTLD suffixes, utm noise, trailing slash, fragments) so the DuckDB
    regexp twin sees the identical inputs — same device as
    ``url_canonicalize`` (part04)."""
    d = F.col("doc_id")
    sub = (
        F.when(d % 3 == 0, F.lit("WWW."))
        .when(d % 3 == 1, F.lit("News."))
        .otherwise(F.lit(""))
    )
    sfx = (
        F.when(d % 4 == 0, F.lit("COM"))
        .when(d % 4 == 1, F.lit("Co.Uk"))
        .when(d % 4 == 2, F.lit("com.au"))
        .otherwise(F.lit("org"))
    )
    return F.concat(
        F.lit("HTTP://"),
        sub,
        F.lit("Site"),
        (d % 5).cast("string"),
        F.lit("."),
        sfx,
        F.lit("/A/"),
        (d % 40).cast("string"),
        F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        (d % 3).cast("string"),
        F.when(d % 3 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_domain_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain URL dedup report (operators/domains.py): URLs
    canonicalize (lower host / strip fragment / drop utm_* / collapse
    trailing slashes), group under their eTLD+1 (pinned multi-label-suffix
    set), and a policy-ranked survivor (longest capture, doc_id
    tiebreak) is kept per canonical URL. Per domain:
    (n_urls, n_canonical, dup_ppm, kept_size)."""
    from ingestion_scripts_spark.operators.domains import domain_dedup_stats

    docs = _t(spark, sf_dir, "documents").select(  # noqa: F405
        "doc_id", "n_chars"
    ).withColumn("url", _synth_url())
    return domain_dedup_stats(
        docs, "url", prefer_desc=["n_chars"], tiebreak_asc=["doc_id"],
        size_col="n_chars",
    )


_SQL_MLS = "('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au'," \
    "'co.jp','or.jp','ne.jp','com.br','co.in','co.nz','com.mx','com.cn'," \
    "'com.sg','co.kr')"

SQL_DOMAIN_DEDUP_STATS = f"""
WITH u AS (
  SELECT doc_id, n_chars,
         'HTTP://'
         || CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
                 WHEN doc_id % 3 = 1 THEN 'News.' ELSE '' END
         || 'Site' || (doc_id % 5)::VARCHAR || '.'
         || CASE WHEN doc_id % 4 = 0 THEN 'COM'
                 WHEN doc_id % 4 = 1 THEN 'Co.Uk'
                 WHEN doc_id % 4 = 2 THEN 'com.au' ELSE 'org' END
         || '/A/' || (doc_id % 40)::VARCHAR
         || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
         || '?id=' || (doc_id % 3)::VARCHAR
         || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT doc_id, n_chars,
         lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
         regexp_replace(
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '')
           AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u
  WHERE regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) <> ''),
canon AS (
  SELECT doc_id, n_chars, host,
         'https://' || host || path
         || CASE WHEN keep <> '' THEN '?' || keep ELSE '' END AS canon
  FROM (SELECT *,
          array_to_string(
            list_filter(string_split(q, '&'),
                        x -> NOT starts_with(x, 'utm_')), '&') AS keep
        FROM parts)),
dom AS (
  SELECT *,
         CASE WHEN len(hp) <= 2 THEN host
              WHEN (hp[-2] || '.' || hp[-1]) IN {_SQL_MLS}
                THEN hp[-3] || '.' || hp[-2] || '.' || hp[-1]
              ELSE hp[-2] || '.' || hp[-1] END AS domain
  FROM (SELECT *, string_split(host, '.') AS hp FROM canon)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY canon
                               ORDER BY n_chars DESC, doc_id) AS rn
  FROM dom)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
       CAST(((count(*) - count(DISTINCT canon)) * 1000000) // count(*)
            AS BIGINT) AS dup_ppm,
       CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_size
FROM ranked GROUP BY domain ORDER BY domain"""


# ---------------------------------------------------------------------------
# incremental (two-snapshot) exact median / MAD / Gini off the maintained
# value-count histogram
# ---------------------------------------------------------------------------

def q_incremental_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental form of the exact robust-statistics family: the
    per-cent-value count histogram of order values is MAINTAINED through
    an insert/delete delta (ivm.incremental_merge — base minus retracted
    orders plus the new snapshot's orders), and exact median / MAD /
    Gini are recomputed from the histogram alone
    (operators/histstats.py::median_mad_gini_from_counts — two
    global_cumsum passes over the value domain, never the corpus). The
    oracle recomputes the same statistics directly over the effective
    row set, so the driver certifies the IVM law end-to-end: maintained
    view ≡ full recompute, bit-for-bit."""
    from ingestion_scripts_spark.operators.histstats import (
        median_mad_gini_from_counts,
        value_counts,
    )
    from ingestion_scripts_spark.operators.ivm import incremental_merge

    orders = _t(spark, sf_dir, "orders").select(  # noqa: F405
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
        "o_orderdate",
    )
    split = F.lit("1997-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < split)
    inserts = orders.filter(F.col("o_orderdate") >= split)
    deletes = base.filter(F.col("o_orderkey") % 97 == 0)
    view = incremental_merge(
        value_counts(base, "cents"),
        value_counts(inserts, "cents"),
        value_counts(deletes, "cents"),
        keys=["cents"],
        count_col="cnt",
        measures=[],
    )
    return median_mad_gini_from_counts(view, "cents")


SQL_INCREMENTAL_VALUE_STATS = """
WITH eff AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' OR o_orderkey % 97 <> 0),
s AS (SELECT cents,
             row_number() OVER (ORDER BY cents) AS rn,
             count(*) OVER () AS n,
             sum(cents) OVER () AS tot
      FROM eff),
agg AS (SELECT max(n) AS n, max(tot) AS tot,
               sum(rn * cents) AS s_rank,
               max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS m1,
               max(CASE WHEN rn = (n + 2) // 2 THEN cents END) AS m2
        FROM s),
devs AS (SELECT abs(2 * e.cents - (a.m1 + a.m2)) AS d2 FROM eff e, agg a),
ds AS (SELECT d2, row_number() OVER (ORDER BY d2) AS rn,
              count(*) OVER () AS n
       FROM devs),
dagg AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN d2 END) AS dm1,
                max(CASE WHEN rn = (n + 2) // 2 THEN d2 END) AS dm2
         FROM ds)
SELECT CAST(a.n AS BIGINT) AS n,
       CAST(a.tot AS BIGINT) AS total,
       CAST(((a.m1 + a.m2) * 1000000) // 2 AS BIGINT) AS median_micro,
       CAST(((d.dm1 + d.dm2) * 1000000) // 4 AS BIGINT) AS mad_micro,
       CAST(((2 * a.s_rank - (a.n + 1) * a.tot) * 1000000)
            // (a.n * a.tot) AS BIGINT) AS gini_ppm
FROM agg a, dagg d"""


__all__ = [n for n in globals() if not n.startswith("__")]
