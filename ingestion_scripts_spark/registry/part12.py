"""Registry implementation, part 12 — r12 additions (VERDICT r11 item
5's genuinely-new LLM-pipeline surface): cross-snapshot incremental
near-dup maintenance (the ivm merge applied to MinHash band tables —
formed/dissolved pair deltas when a crawl snapshot rolls), the WRITE
side of suffix-span removal (documents emitted with duplicate spans
excised, conservation-law tested), and quality-classifier calibration
drift over time buckets (per-bucket ECE + reliability shift vs the
first bucket)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion_scripts_spark.registry.part11 import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# cross-snapshot incremental near-dup (maintained band table, pair delta)
# ---------------------------------------------------------------------------

def q_snapshot_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIR DELTA across a snapshot roll (operators/dedup.py::
    snapshot_band_delta): snapshot1 = docs with doc_id % 5 != 0;
    the roll deletes its doc_id % 7 == 0 members and inserts the
    doc_id % 5 == 0 docs. Only delta band buckets join the maintained
    band table — the incremental plan — while the oracle recomputes both
    snapshots' verified pair sets in full and diffs them: the IVM law
    for LSH dedup."""
    from ingestion_scripts_spark.operators.dedup import snapshot_band_delta

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inserts = docs.filter(F.col("doc_id") % 5 == 0)
    delete_ids = base.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return snapshot_band_delta(
        base, inserts, delete_ids, "doc_id", "text", threshold=0.8
    ).orderBy("status", "id1", "id2")


SQL_SNAPSHOT_DEDUP_DELTA = f"""
WITH sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
p1 AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
    AND a.doc_id % 5 <> 0 AND b.doc_id % 5 <> 0),
p2 AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
    AND (a.doc_id % 5 = 0 OR (a.doc_id % 7 <> 0))
    AND (b.doc_id % 5 = 0 OR (b.doc_id % 7 <> 0))),
v1 AS (
  SELECT id1, id2,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE /
               len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM p1 JOIN sh a ON p1.id1 = a.doc_id JOIN sh b ON p1.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
v2 AS (
  SELECT id1, id2,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE /
               len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM p2 JOIN sh a ON p2.id1 = a.doc_id JOIN sh b ON p2.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8)
SELECT v2.id1, v2.id2, v2.jaccard, 'formed' AS status
FROM v2 LEFT JOIN v1 ON v2.id1 = v1.id1 AND v2.id2 = v1.id2
WHERE v1.id1 IS NULL
UNION ALL
SELECT v1.id1, v1.id2, v1.jaccard, 'dissolved' AS status
FROM v1 LEFT JOIN v2 ON v1.id1 = v2.id1 AND v1.id2 = v2.id2
WHERE v2.id1 IS NULL
ORDER BY status, id1, id2"""


# ---------------------------------------------------------------------------
# suffix-span removal, write side (conservation-law-tested excision)
# ---------------------------------------------------------------------------

def q_span_removal_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of ``span_removal_plan`` (operators/spans.py::
    span_removal_apply): every document re-emitted with its removable
    duplicate-5-span token positions EXCISED (globally first occurrence
    kept), plus the exact removed-token count — plan and apply agree by
    construction, and ``len(tokenize(text_clean)) = n_tokens − n_removed``
    is the ledgered conservation law."""
    from ingestion_scripts_spark.operators.spans import span_removal_apply

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    return span_removal_apply(docs, "doc_id", "text", k=5).orderBy("doc_id")


SQL_SPAN_REMOVAL_APPLY = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, u.pos AS pos, u.span AS span FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 4),
             i -> struct_pack(pos := i,
                    span := array_to_string(t[i:i+4], ' ')))) AS u
    FROM toks WHERE len(t) >= 5)),
ranked AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY span) AS n_occ
  FROM occ),
cov AS (
  SELECT doc_id, list_sort(list(DISTINCT p)) AS cl
  FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p
        FROM ranked WHERE n_occ >= 2 AND rn >= 2)
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(c.cl), 0) AS BIGINT) AS n_removed,
       coalesce(array_to_string(
         list_transform(
           list_filter(list_transform(range(1, len(t.t) + 1),
                                      i -> struct_pack(tok := t.t[i], p := i)),
                       s -> NOT list_contains(coalesce(c.cl, CAST([] AS BIGINT[])), s.p)),
           s -> s.tok), ' '), '') AS text_clean
FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
ORDER BY t.doc_id"""


# ---------------------------------------------------------------------------
# quality-classifier calibration drift over time buckets
# ---------------------------------------------------------------------------

def q_calibration_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration drift of a quality gate over rolling 3-day buckets
    (operators/profiling.py::calibration_drift): a deterministic
    pseudo-classifier score (hash of event_id, micro-units) and a label
    whose decision boundary SHIFTS with the bucket's phase (bidx % 4)
    replay the real failure — fixed model, drifting data. Per bucket:
    ECE and mean reliability shift vs the first bucket, exact integers.
    (Bucket = (day-of-month − 1) div 3: the testdata event stream spans
    one calendar month; in production the bucket column is whatever
    cadence the gate is audited at — the operator takes any integer
    bucket.)"""
    from ingestion_scripts_spark.functions.text import hash64
    from ingestion_scripts_spark.operators.profiling import calibration_drift

    ev = _t(spark, sf_dir, "events")  # noqa: F405
    bidx = F.expr("CAST((dayofmonth(ts) - 1) div 3 AS BIGINT)")
    score_u = F.pmod(hash64(F.col("event_id").cast("string")), F.lit(1000000))
    h2 = F.pmod(
        hash64(F.concat(F.col("event_id").cast("string"), F.lit("y"))),
        F.lit(1000000),
    )
    label = (h2 * 10 < score_u * (F.lit(9) + F.pmod(bidx, F.lit(4)))).cast(
        "int"
    )  # boundary shifts with bucket phase — the drift under audit
    return calibration_drift(ev, bidx, score_u, label, n_bins=10)


_H_SCORE = "CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15)) AS BIGINT) % 1000000"
_H_LBL = (
    "CAST(('0x' || substr(md5(event_id::VARCHAR || 'y'), 1, 15)) AS BIGINT)"
    " % 1000000"
)

SQL_CALIBRATION_DRIFT = f"""
WITH raw AS (
  SELECT ((day(ts) - 1) // 3)::BIGINT AS bucket,
         {_H_SCORE} AS s,
         CASE WHEN ({_H_LBL}) * 10 <
                   ({_H_SCORE}) * (9 + ((day(ts) - 1) // 3) % 4)
              THEN 1 ELSE 0 END AS y
  FROM events),
binned AS (
  SELECT bucket, least((s * 10) // 1000000, 9)::BIGINT AS bin, s, y
  FROM raw),
per_bin AS (
  SELECT bucket, bin, count(*)::BIGINT AS n,
         (sum(s) // count(*))::BIGINT AS mean_u,
         ((sum(y) * 1000000) // count(*))::BIGINT AS pos_u
  FROM binned GROUP BY bucket, bin),
baseline AS (
  SELECT bin, pos_u AS pos0_u FROM per_bin
  WHERE bucket = (SELECT min(bucket) FROM per_bin))
SELECT p.bucket,
       CAST(sum(p.n) AS BIGINT) AS n,
       CAST(sum(p.n * abs(p.mean_u - p.pos_u)) // sum(p.n) AS BIGINT)
         AS ece_u,
       CAST(count(b.pos0_u) AS BIGINT) AS n_bins_shared,
       CAST(coalesce(sum(abs(p.pos_u - b.pos0_u)), 0)
            // greatest(count(b.pos0_u), 1) AS BIGINT) AS drift_u
FROM per_bin p LEFT JOIN baseline b ON p.bin = b.bin
GROUP BY p.bucket ORDER BY p.bucket"""


__all__ = [n for n in globals() if not n.startswith("__")]
