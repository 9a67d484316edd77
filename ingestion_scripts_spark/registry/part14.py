"""Registry implementation, part 14 — r14 additions (VERDICT r13 next-
round items 2-4): the CAPPED band roll (stop-bucket hot-bucket
remediation — the other half of ``band_table_stats``, which until now
measured the quadratic risk without acting on it) with its exact
skipped-pair-mass audit, the MAINTAINED chunk-store roll (the CDC
analog of ``snapshot_band_roll`` — per-roll savings without re-ranking
the corpus), and the CLAMPED content-defined chunker (min/max cuts as
code, certified against a DuckDB recursive-CTE walk)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.caching import persist_tracked
from ingestion_scripts_spark.operators import similarity as SIM
from ingestion_scripts_spark.registry.part13 import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# capped band roll (stop-bucket hot-bucket remediation)
# ---------------------------------------------------------------------------

#: stop-bucket cap for the registry queries: binds at every test SF
#: (sf0.01 documents has band buckets up to width 4; pair_mass 135/band),
#: so the capped path is certified under a cap that actually drops mass,
#: not a vacuous one.
_CAP_W = 2


def q_capped_band_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair delta across a snapshot roll with STOP-BUCKET capping
    (operators/dedup.py::capped_band_roll): same persisted-band-table
    production shape and %4/%9 delta schedule as ``snapshot_band_roll``,
    but any (band, bucket) wider than 2 in the candidate-generating table
    is excluded from candidate generation — the hot-bucket remediation
    ``band_table_stats`` only measured (VERDICT r13 missing #3). The
    oracle recomputes both snapshots' band tables, drops hot buckets at
    the same cap, and verifies pairs with a delta endpoint — certifying
    that capping loses EXACTLY the hot-bucket discoveries and nothing
    else. Validation runs against the full snapshot1 id set
    (``base_ids``), closing the unbanded-short-doc guard gap
    (ADVICE r13)."""
    from ingestion_scripts_spark.operators.dedup import (
        banded_buckets,
        capped_band_roll,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    base = docs.filter(F.col("doc_id") % 4 != 0)
    inserts = docs.filter(F.col("doc_id") % 4 == 0)
    delete_ids = base.filter(F.col("doc_id") % 9 == 0).select("doc_id")

    state = _scratch(prefix="caproll_")  # noqa: F405
    banded_buckets(base, "doc_id", "text").write.mode("overwrite").parquet(
        f"{state}/bands_v1"
    )
    base_bands = spark.read.parquet(f"{state}/bands_v1")
    _, delta, _ = capped_band_roll(
        base_bands,
        docs,
        inserts,
        delete_ids,
        "doc_id",
        "text",
        threshold=0.8,
        max_bucket_width=_CAP_W,
        base_ids=base.select("doc_id"),
    )
    return delta.orderBy("status", "id1", "id2")


_CAPPED_BANDED = f"""
sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
b1 AS (SELECT * FROM banded WHERE doc_id % 4 <> 0),
b2 AS (SELECT * FROM banded
       WHERE doc_id % 4 = 0 OR doc_id % 9 <> 0),
ok1 AS (SELECT band, bucket FROM b1 GROUP BY band, bucket
        HAVING count(*) <= {_CAP_W}),
ok2 AS (SELECT band, bucket FROM b2 GROUP BY band, bucket
        HAVING count(*) <= {_CAP_W})"""

SQL_CAPPED_BAND_ROLL = f"""
WITH {_CAPPED_BANDED},
fcand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM b2 a JOIN b2 b ON a.band = b.band AND a.bucket = b.bucket
  JOIN ok2 ON a.band = ok2.band AND a.bucket = ok2.bucket
  WHERE a.doc_id < b.doc_id
    AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)),
dcand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM b1 a JOIN b1 b ON a.band = b.band AND a.bucket = b.bucket
  JOIN ok1 ON a.band = ok1.band AND a.bucket = ok1.bucket
  WHERE a.doc_id < b.doc_id
    AND ((a.doc_id % 9 = 0 AND a.doc_id % 4 <> 0)
      OR (b.doc_id % 9 = 0 AND b.doc_id % 4 <> 0))),
formed AS (
  SELECT id1, id2,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE /
               len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM fcand JOIN sh a ON fcand.id1 = a.doc_id
             JOIN sh b ON fcand.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
dissolved AS (
  SELECT id1, id2,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE /
               len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM dcand JOIN sh a ON dcand.id1 = a.doc_id
             JOIN sh b ON dcand.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8)
SELECT id1, id2, jaccard, 'formed' AS status FROM formed
UNION ALL
SELECT id1, id2, jaccard, 'dissolved' AS status FROM dissolved
ORDER BY status, id1, id2"""


def q_capped_roll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped roll's skipped-mass audit (the accounting half of the
    remediation): per (side, band) — side 'next' audits snapshot2's
    maintained band table, side 'base' snapshot1's — bucket counts, hot
    (> cap) bucket counts, and the EXACT pair-mass split kept vs skipped,
    with kept + skipped == that table's ``band_table_stats`` pair_mass
    (ledgered law). What a roll deployment alerts on: skipped_pair_mass
    is the candidate volume the cap refused to pay, named and bounded
    instead of silently exploding the equi-join."""
    from ingestion_scripts_spark.operators.dedup import (
        banded_buckets,
        capped_band_roll,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    base = docs.filter(F.col("doc_id") % 4 != 0)
    inserts = docs.filter(F.col("doc_id") % 4 == 0)
    delete_ids = base.filter(F.col("doc_id") % 9 == 0).select("doc_id")
    # the audit reads the base band table on BOTH sides ('next' via the
    # maintained union, 'base' directly) — persist it so the base
    # signature pipeline runs once (optimization r14; the roll queries
    # get this for free from their parquet state round-trip)
    _, _, audit = capped_band_roll(
        persist_tracked(banded_buckets(base, "doc_id", "text")),
        docs,
        inserts,
        delete_ids,
        "doc_id",
        "text",
        threshold=0.8,
        max_bucket_width=_CAP_W,
        base_ids=base.select("doc_id"),
    )
    return audit


SQL_CAPPED_ROLL_AUDIT = f"""
WITH {_CAPPED_BANDED},
w1 AS (SELECT band, bucket, count(*)::BIGINT AS w FROM b1 GROUP BY band, bucket),
w2 AS (SELECT band, bucket, count(*)::BIGINT AS w FROM b2 GROUP BY band, bucket),
sides AS (
  SELECT 'next' AS side, band, w FROM w2
  UNION ALL
  SELECT 'base' AS side, band, w FROM w1)
SELECT side, band,
       count(*)::BIGINT AS n_buckets,
       sum(CASE WHEN w > {_CAP_W} THEN 1 ELSE 0 END)::BIGINT AS n_hot_buckets,
       CAST(coalesce(sum(CASE WHEN w <= {_CAP_W} THEN w * (w - 1) // 2 END), 0)
            AS BIGINT) AS kept_pair_mass,
       CAST(coalesce(sum(CASE WHEN w > {_CAP_W} THEN w * (w - 1) // 2 END), 0)
            AS BIGINT) AS skipped_pair_mass
FROM sides GROUP BY side, band ORDER BY side, band"""


# ---------------------------------------------------------------------------
# maintained chunk-store roll (CDC analog of the band roll)
# ---------------------------------------------------------------------------

def q_chunk_store_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-roll savings delta of a PERSISTED content-addressed chunk
    store (operators/chunking.py::chunk_store_roll): snapshot1's store is
    written to parquet (the state a prior roll would have left) and read
    back; the roll chunk-hashes ONLY the delta (inserts + retired docs),
    maintains refcounts by hash-keyed set algebra, and reports added /
    removed / retained hash classes with exact stored vs logical token
    mass (dup_tokens = the savings a store-once backend realizes). Same
    %4/%9 delta schedule as the band roll; the oracle recomputes both
    snapshots' stores from scratch and diffs them."""
    from ingestion_scripts_spark.operators.chunking import (
        build_chunk_store,
        chunk_store_roll,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    base = docs.filter(F.col("doc_id") % 4 != 0)
    inserts = docs.filter(F.col("doc_id") % 4 == 0)
    delete_ids = base.filter(F.col("doc_id") % 9 == 0).select("doc_id")

    state = _scratch(prefix="chunkstore_")  # noqa: F405
    build_chunk_store(base, "doc_id", "text").write.mode("overwrite").parquet(
        f"{state}/store_v1"
    )
    store1 = spark.read.parquet(f"{state}/store_v1")
    _, report = chunk_store_roll(
        store1, base, inserts, delete_ids, "doc_id", "text"
    )
    return report


_CDC_ROWS = f"""
pos AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents),
docs AS (SELECT doc_id, t, len(t) AS n FROM pos WHERE len(t) > 0),
cand AS (
  SELECT doc_id, u.i AS b
  FROM docs, unnest(generate_series(4, n)) AS u(i)
  WHERE n >= 4 AND ({{win}}) % 16 = 0),
bnd AS (
  SELECT doc_id, b FROM cand
  UNION
  SELECT doc_id, n AS b FROM docs),
chunk AS (
  SELECT doc_id, b AS endpos,
         coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0) + 1
           AS start
  FROM bnd),
rows_ AS (
  SELECT c.doc_id, c.start,
         c.endpos - c.start + 1 AS clen,
         {{chash}} AS chash
  FROM chunk c JOIN docs p USING (doc_id))"""

SQL_CHUNK_STORE_ROLL = f"""
WITH {_CDC_ROWS.format(win=_CDC_WIN, chash=_CDC_CHUNK)},
s1 AS (
  SELECT chash, min(clen) AS clen, count(*)::BIGINT AS refs
  FROM rows_ WHERE doc_id % 4 <> 0 GROUP BY chash),
s2 AS (
  SELECT chash, min(clen) AS clen, count(*)::BIGINT AS refs
  FROM rows_ WHERE doc_id % 4 = 0 OR doc_id % 9 <> 0 GROUP BY chash),
merged AS (
  SELECT coalesce(s2.chash, s1.chash) AS chash,
         coalesce(s2.clen, s1.clen) AS clen,
         CASE WHEN s1.chash IS NULL THEN 'added'
              WHEN s2.chash IS NULL THEN 'removed'
              ELSE 'retained' END AS status,
         coalesce(s2.refs, s1.refs) AS refs
  FROM s1 FULL OUTER JOIN s2 ON s1.chash = s2.chash)
SELECT status,
       count(*)::BIGINT AS n_hashes,
       CAST(sum(clen) AS BIGINT) AS stored_tokens,
       CAST(sum(refs * clen) AS BIGINT) AS logical_tokens,
       CAST(sum(refs * clen) - sum(clen) AS BIGINT) AS dup_tokens
FROM merged GROUP BY status ORDER BY status"""


# ---------------------------------------------------------------------------
# clamped content-defined chunking dedup (min/max cuts as code)
# ---------------------------------------------------------------------------

#: registry clamp parameters: bind on the test corpora (documents token
#: counts straddle both; expected basic chunk ≈ 16 tokens, so min=8
#: suppresses short candidates and max=24 forces cuts on candidate gaps).
_CLAMP_MIN = 8
_CLAMP_MAX = 24


def q_cdc_clamped_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage-dedup report over CLAMPED content-defined
    chunks (operators/chunking.py::cdc_chunks_clamped, min=8 / max=24,
    window=4, divisor=16): the production CDC shape — a chunk ends at
    the first candidate boundary at least min tokens in, is force-cut at
    max, and the doc tail is the one sanctioned sub-min chunk. The
    DuckDB twin re-derives the boundaries with a RECURSIVE walk (next
    cut = min candidate in [start+min, start+max], else forced), so the
    sequential Spark ``aggregate`` walk is certified against an
    independent sequential formulation, not itself."""
    from ingestion_scripts_spark.operators.chunking import (
        cdc_chunks_clamped,
        chunk_occurrence_report,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")  # noqa: F405
    chunks = cdc_chunks_clamped(
        docs, "doc_id", "text", min_len=_CLAMP_MIN, max_len=_CLAMP_MAX
    )
    return chunk_occurrence_report(chunks, docs, "doc_id", "source")


_CDC_WCHUNK = _CDC_H.format(
    x="array_to_string(d.t[w.start_pos:w.endpos], ' ')"
)

SQL_CDC_CLAMPED_DEDUP = f"""
WITH RECURSIVE pos AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents),
docs AS (SELECT doc_id, source, t, len(t) AS n FROM pos WHERE len(t) > 0),
cand AS (
  SELECT doc_id, u.i AS b
  FROM docs, unnest(generate_series(4, n)) AS u(i)
  WHERE n >= 4 AND ({_CDC_WIN}) % 16 = 0),
walk AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS endpos, 0 AS k FROM docs
  UNION ALL
  SELECT w.doc_id,
         coalesce(
           (SELECT min(c.b) FROM cand c
            WHERE c.doc_id = w.doc_id
              AND c.b >= w.endpos + {_CLAMP_MIN}
              AND c.b <= w.endpos + {_CLAMP_MAX}),
           least(w.endpos + {_CLAMP_MAX}, d.n)) AS endpos,
         w.k + 1
  FROM walk w JOIN docs d USING (doc_id)
  WHERE w.endpos < d.n),
steps AS (
  SELECT doc_id, k AS chunk_idx, endpos,
         lag(endpos) OVER (PARTITION BY doc_id ORDER BY k) + 1 AS start_pos
  FROM walk),
rows_ AS (
  SELECT w.doc_id, d.source, w.start_pos,
         w.endpos - w.start_pos + 1 AS clen,
         {_CDC_WCHUNK} AS chash
  FROM steps w JOIN docs d USING (doc_id)
  WHERE w.chunk_idx >= 1),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY chash ORDER BY doc_id, start_pos)
    AS rn
  FROM rows_)
SELECT source,
       count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
       CAST(sum(clen) AS BIGINT) AS total_tokens,
       CAST(coalesce(sum(CASE WHEN rn >= 2 THEN clen END), 0) AS BIGINT)
         AS dup_tokens,
       CAST((coalesce(sum(CASE WHEN rn >= 2 THEN clen END), 0) * 1000000)
            // sum(clen) AS BIGINT) AS dedup_ppm
FROM ranked GROUP BY source ORDER BY source"""


# ---------------------------------------------------------------------------
# hot-bucket sweep (offline recovery of cap-refused pairs)
# ---------------------------------------------------------------------------

#: sorted-neighborhood rank window for the registry sweep: binds at the
#: test SFs (hot buckets at cap 2 have width 3-4, so window 2 certifies
#: the BOUNDED path — rank-distance-3 candidates are genuinely skipped),
#: while the full-window completeness law lives in tests/test_r14_sweep_ivf.py.
_SWEEP_W = 2

_SWEEP_CTES = f"""
sh AS (SELECT doc_id, {_SH} AS sh FROM documents),
sig AS (SELECT doc_id, sh, {_SIG} AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(b)),
hot AS (SELECT band, bucket FROM banded GROUP BY band, bucket
        HAVING count(*) > {_CAP_W}),
mem AS (
  SELECT b.doc_id, b.band, b.bucket, s.sig
  FROM banded b JOIN hot USING (band, bucket) JOIN sig s USING (doc_id)),
rk AS (
  SELECT doc_id, band, bucket,
         row_number() OVER (PARTITION BY band, bucket ORDER BY sig, doc_id)
           AS rnk
  FROM mem),
scand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM rk a JOIN rk b
    ON a.band = b.band AND a.bucket = b.bucket
   AND b.rnk > a.rnk AND b.rnk <= a.rnk + {_SWEEP_W}),
sver AS (
  SELECT id1, id2,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE /
               len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM scand JOIN sh a ON scand.id1 = a.doc_id
             JOIN sh b ON scand.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8)"""


def q_hot_bucket_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recovery of the pairs the stop-bucket cap refused
    (operators/dedup.py::hot_bucket_sweep): sorted-neighborhood inside
    hot buckets — members of every (band, bucket) wider than the cap are
    re-signed (members only), ordered by full MinHash signature, and only
    rank neighbors within the window become candidates, so the pass costs
    Sigma w*window instead of Sigma w^2. Cap 2 / window 2 both BIND at the
    test SFs (width-4 buckets exist, so rank-distance-3 candidates are
    certifiably skipped). With the capped roll this completes the
    remediation contract: refuse online, account exactly, recover
    offline."""
    from ingestion_scripts_spark.operators.dedup import (
        bands_from_signatures,
        hot_bucket_sweep,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    # one signature pipeline: the band table is a projection of the
    # persisted signatures and the sweep's rank ordering joins the same
    # table instead of re-signing hot members (optimization r14; values
    # are identical — signatures are a pure function of the text)
    sigs = persist_tracked(minhash_signatures(docs, "doc_id", "text"))
    bands = bands_from_signatures(sigs, "doc_id")
    return hot_bucket_sweep(
        bands,
        docs,
        "doc_id",
        "text",
        threshold=0.8,
        max_bucket_width=_CAP_W,
        neighbor_window=_SWEEP_W,
        sig_table=sigs,
    ).orderBy("id1", "id2")


SQL_HOT_BUCKET_SWEEP = f"""
WITH {_SWEEP_CTES}
SELECT id1, id2, jaccard FROM sver ORDER BY id1, id2"""


def q_capped_sweep_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measure-don't-guess closer of the remediation family: against
    the UNCAPPED verified pair set, how many pairs the capped candidate
    path finds ('capped_found' — pairs sharing >= 1 non-hot bucket), how
    many the offline sweep recovers on top ('sweep_recovered'), and how
    many remain lost at this window ('lost'). At 100 TB this is the
    dashboard row that prices a cap/window choice: lost pair count is the
    recall give-up, sweep_recovered is what the bounded offline pass buys
    back.

    Plan shape (optimization r14, guide §1.2/§2.4): the three pair sets
    are NESTED (capped ⊆ uncapped; sweep candidates share a hot bucket so
    they are banded pairs too), so instead of three candidate generations
    and three Jaccard-verify joins this computes ONE candidate universe
    with two per-pair flags — ``has_ok`` (shares ≥1 non-hot bucket ⇔
    member of the capped set) and ``in_sweep`` (rank-window neighbor in a
    hot bucket; verified ⇔ member of the sweep output, same threshold) —
    runs the shingle-verify join ONCE over the universe, and reads all
    three counts off one aggregate row. One signature pipeline feeds both
    the band table and the sweep's rank ordering. Identical result set:
    capped_found = verified ∧ has_ok; sweep_recovered = verified ∧
    in_sweep ∧ ¬has_ok (= sweep \\ capped); lost = verified ∧ ¬has_ok ∧
    ¬in_sweep (= uncapped \\ capped \\ sweep)."""
    from ingestion_scripts_spark.operators.dedup import (
        bands_from_signatures,
        hot_bucket_sweep_candidates,
        jaccard,
        minhash_signatures,
        shingles,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")  # noqa: F405
    # all consumers (pair universe, bucket widths, sweep ranks) share ONE
    # persisted signature table; the band table is a cheap projection
    sigs = persist_tracked(minhash_signatures(docs, "doc_id", "text"))
    bands = bands_from_signatures(sigs, "doc_id")

    # candidate universe with the capped-membership flag: per (band,
    # bucket), in-bucket combinations (same HOF expansion as
    # pairs_from_banded) tagged with whether THIS bucket is non-hot, then
    # one per-pair aggregate: has_ok = shares at least one non-hot bucket
    pair_flags = (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col("doc_id"))).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id1, y AS id2))))"
                )
            ).alias("p"),
            (F.size("ids") <= _CAP_W).alias("__okb"),
        )
        .groupBy("p.id1", "p.id2")
        .agg(F.max("__okb").alias("has_ok"))
    )
    scand = hot_bucket_sweep_candidates(
        bands,
        docs,
        "doc_id",
        "text",
        max_bucket_width=_CAP_W,
        neighbor_window=_SWEEP_W,
        sig_table=sigs,
    ).withColumn("__sw", F.lit(True))
    flagged = pair_flags.join(scand, ["id1", "id2"], "left").select(
        "id1",
        "id2",
        "has_ok",
        F.coalesce(F.col("__sw"), F.lit(False)).alias("in_sweep"),
    )

    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("__sh"))
    verified = (
        flagged.join(
            sh.select(F.col("doc_id").alias("id1"), F.col("__sh").alias("__s1")),
            "id1",
        )
        .join(
            sh.select(F.col("doc_id").alias("id2"), F.col("__sh").alias("__s2")),
            "id2",
        )
        .filter(F.round(jaccard(F.col("__s1"), F.col("__s2")), 6) >= 0.8)
        .select("has_ok", "in_sweep")
    )
    one = verified.agg(
        F.coalesce(F.sum(F.col("has_ok").cast("bigint")), F.lit(0).cast("bigint"))
        .alias("__c"),
        F.coalesce(
            F.sum((~F.col("has_ok") & F.col("in_sweep")).cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("__r"),
        F.coalesce(
            F.sum((~F.col("has_ok") & ~F.col("in_sweep")).cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("__l"),
    )
    # wide→long via unpivot, not explode(array(struct…)): Expand keeps the
    # terminal sort's input provably bounded for the plan-hygiene audit
    # (same restructure as dedup_funnel's tail, registry/part07.py)
    return (
        one.select(
            F.col("__c").alias("capped_found"),
            F.col("__l").alias("lost"),
            F.col("__r").alias("sweep_recovered"),
        )
        .unpivot(
            [], ["capped_found", "lost", "sweep_recovered"], "category", "n_pairs"
        )
        .orderBy("category")
    )


SQL_CAPPED_SWEEP_RECALL = f"""
WITH {_SWEEP_CTES},
ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket
       HAVING count(*) <= {_CAP_W}),
ucand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
uver AS (
  SELECT id1, id2 FROM ucand
  JOIN sh a ON ucand.id1 = a.doc_id JOIN sh b ON ucand.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
ccand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
                  greatest(a.doc_id, b.doc_id) AS id2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  JOIN ok ON a.band = ok.band AND a.bucket = ok.bucket),
cver AS (
  SELECT id1, id2 FROM ccand
  JOIN sh a ON ccand.id1 = a.doc_id JOIN sh b ON ccand.id2 = b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(a.sh || b.sh)), 6) >= 0.8),
recovered AS (SELECT id1, id2 FROM sver EXCEPT SELECT id1, id2 FROM cver),
lost AS (
  SELECT id1, id2 FROM uver
  EXCEPT SELECT id1, id2 FROM cver
  EXCEPT SELECT id1, id2 FROM sver)
SELECT 'capped_found' AS category, count(*)::BIGINT AS n_pairs FROM cver
UNION ALL
SELECT 'lost', count(*)::BIGINT FROM lost
UNION ALL
SELECT 'sweep_recovered', count(*)::BIGINT FROM recovered
ORDER BY category"""


# ---------------------------------------------------------------------------
# maintained IVF postings roll (ANN index as maintained state)
# ---------------------------------------------------------------------------

_IVF_NRM = (
    "sqrt(list_sum(list_transform(range(1, len({0}) + 1), "
    "i -> {0}[i] * {0}[i])))"
).format


def q_ivf_postings_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell maintenance audit of a PERSISTED IVF postings table
    rolled under insert/retire deltas (operators/similarity.py::
    ivf_postings_roll): snapshot1's (id, cell) assignment is written
    cell-partitioned to parquet (the state a prior roll leaves), read
    back, and rolled — cell assignment (the only vector math) touches
    ONLY the delta; the index maintenance is one anti-join + union; the
    audit full-outer-joins three cell-keyed counts. Same %4/%9 schedule
    as the band/chunk rolls, frozen deterministic centroids (re-training
    is a rebuild, not a roll)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")  # noqa: F405
    base = emb.filter(F.col("vec_id") % 4 != 0)
    inserts = emb.filter(F.col("vec_id") % 4 == 0)
    delete_ids = base.filter(F.col("vec_id") % 9 == 0).select("vec_id")

    empty_post = spark.createDataFrame([], "vec_id long, cell int")
    empty_del = spark.createDataFrame([], "vec_id long")
    # bootstrap from an empty table: disjoint by construction, skip probes
    p1, _ = SIM.ivf_postings_roll(empty_post, base, empty_del, validate=False)
    state = _scratch(prefix="ivfpost_")  # noqa: F405
    # cluster by the partition key before the partitioned write (guide
    # §6): one file per cell instead of tasks x cells splinters
    p1.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{state}/post_v1"
    )
    postings1 = spark.read.parquet(f"{state}/post_v1")
    _, audit = SIM.ivf_postings_roll(postings1, inserts, delete_ids)
    return audit.select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_before", "n_added", "n_removed", "n_after",
    )


def _sql_ivf_postings_roll() -> str:
    cell = O.sql_ivf_cell("nv", _IVF_CENTS)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, list_transform(v, x -> x / {_IVF_NRM('v')}) AS nv FROM v),
cells AS (SELECT vec_id, {cell} AS cell FROM n),
before_ AS (SELECT cell, count(*)::BIGINT AS n_before FROM cells
            WHERE vec_id % 4 <> 0 GROUP BY cell),
added AS (SELECT cell, count(*)::BIGINT AS n_added FROM cells
          WHERE vec_id % 4 = 0 GROUP BY cell),
removed AS (SELECT cell, count(*)::BIGINT AS n_removed FROM cells
            WHERE vec_id % 4 <> 0 AND vec_id % 9 = 0 GROUP BY cell)
SELECT cell::BIGINT AS cell,
       coalesce(n_before, 0) AS n_before,
       coalesce(n_added, 0) AS n_added,
       coalesce(n_removed, 0) AS n_removed,
       coalesce(n_before, 0) + coalesce(n_added, 0) - coalesce(n_removed, 0)
         AS n_after
FROM before_
FULL OUTER JOIN added USING (cell)
FULL OUTER JOIN removed USING (cell)
ORDER BY cell"""


def q_ivf_roll_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k SERVED from the maintained postings table
    (operators/similarity.py::ivf_serve_from_postings) — the read side of
    the roll contract: the corpus-side cell column comes from the rolled,
    cell-partitioned parquet index (probed cells prune partitions), so
    per-query work is query assignment + point-joins; the corpus is never
    re-assigned. Queries = snapshot2 members with vec_id % 50 = 0, k=5,
    single probe — the oracle recomputes the same top-k from scratch on
    snapshot2, certifying serve-from-rolled-state == recompute."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")  # noqa: F405
    base = emb.filter(F.col("vec_id") % 4 != 0)
    inserts = emb.filter(F.col("vec_id") % 4 == 0)
    delete_ids = base.filter(F.col("vec_id") % 9 == 0).select("vec_id")

    empty_post = spark.createDataFrame([], "vec_id long, cell int")
    empty_del = spark.createDataFrame([], "vec_id long")
    # persist the bootstrap postings: (id, cell) is two ints per corpus row,
    # and the second roll otherwise re-runs the full base-corpus norm+assign
    # lineage once for its disjointness probe and again for the partitioned
    # write (optimization r14, guide §5: tiny + reused + expensive lineage)
    p1, _ = SIM.ivf_postings_roll(empty_post, base, empty_del, validate=False)
    p1 = persist_tracked(p1)
    p2, _ = SIM.ivf_postings_roll(p1, inserts, delete_ids)
    state = _scratch(prefix="ivfserve_")  # noqa: F405
    p2.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{state}/post_v2"
    )
    postings2 = spark.read.parquet(f"{state}/post_v2")

    snap2 = emb.filter((F.col("vec_id") % 4 == 0) | (F.col("vec_id") % 9 != 0))
    queries = snap2.filter(F.col("vec_id") % 50 == 0)
    return SIM.ivf_serve_from_postings(
        queries, snap2, postings2, k=5, probes=1
    ).orderBy("query_id", "rank")


def _sql_ivf_roll_serve() -> str:
    cq = O.sql_ivf_cell("qv", _IVF_CENTS)
    cc = O.sql_ivf_cell("cv", _IVF_CENTS)
    return f"""
WITH s2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id % 4 = 0 OR vec_id % 9 <> 0),
q0 AS (SELECT vec_id AS query_id, v FROM s2 WHERE vec_id % 50 = 0),
q AS (SELECT query_id, qv, {cq} AS cell FROM
      (SELECT query_id, list_transform(v, x -> x / {_IVF_NRM('v')}) AS qv FROM q0)),
c0 AS (SELECT vec_id AS match_id, v FROM s2),
c AS (SELECT match_id, cv, {cc} AS cell FROM
      (SELECT match_id, list_transform(v, x -> x / {_IVF_NRM('v')}) AS cv FROM c0)),
scored AS (
  SELECT query_id, match_id, round({O.sql_dot('qv', 'cv', 'len(qv)')}, 6) AS sim
  FROM q JOIN c USING (cell) WHERE query_id <> match_id),
ranked AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank"""


# ---------------------------------------------------------------------------
# streaming IVF postings roll (continuous ingest: inserts + retirements)
# ---------------------------------------------------------------------------

def _ivf_trigger(
    spark: SparkSession,
    batch_df: DataFrame,
    state: str,
    sink: str,
    ver: dict,
) -> None:
    """One trigger of the streaming IVF postings roll — module-level so
    the replay contract is unit-testable (tests/test_r14_sweep_ivf.py
    invokes it twice with the same batch and asserts state AND sink are
    unchanged). Same replay-safe design as part13's ``_roll_trigger``
    (ADVICE r13): every write is a VERSIONED OVERWRITE (post_v{s},
    audit_v{s}) keyed by the content-derived step (min(vec_id % 3) —
    this harness's schedule), so a foreachBatch retry recomputes from
    the still-present v{s-1} state and overwrites v{s} byte-identically;
    the arrival counter only asserts the schedule. Unlike the band roll
    the postings table IS the membership set (IVF assignment is total),
    so retirements come from the state itself — one state table, no
    separate corpus store."""
    # ONE job decides emptiness AND the content step (min over an empty
    # batch is NULL ⇔ the old isEmpty() probe) — same fusion as
    # part13._roll_trigger (optimization r14)
    step = batch_df.select(
        F.min(F.col("vec_id") % 3).cast("int").alias("b")
    ).collect()[0].b
    if step is None:
        return
    assert step in (ver["n"], ver["n"] - 1), (
        f"batch arrival out of order: content step {step}, expected "
        f"{ver['n']} (or a replay of {ver['n'] - 1})"
    )
    if step == 0:
        prev = spark.createDataFrame([], "vec_id long, cell int")
    else:
        prev = spark.read.parquet(f"{state}/post_v{step - 1}")
    retire = prev.filter(F.col("vec_id") % 7 == step).select("vec_id")
    # validate=False: the schedule is disjoint BY CONSTRUCTION (batch b
    # inserts vec_id % 3 == b, never previously a member; retirements
    # filter current members); the eager guard is certified on the batch
    # path (ivf_postings_roll query + tests/test_r14_sweep_ivf.py)
    new_post, audit = SIM.ivf_postings_roll(
        prev, batch_df, retire, validate=False
    )
    new_post.write.mode("overwrite").parquet(f"{state}/post_v{step}")
    audit.withColumn("batch", F.lit(step).cast("int")).write.mode(
        "overwrite"
    ).parquet(f"{sink}/audit_v{step}")
    ver["n"] = step + 1


def q_stream_ivf_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained ANN index under continuous ingest: a REAL
    Structured-Streaming job whose micro-batches carry vector inserts
    AND retirements, rolling the persisted (id, cell) postings table
    across triggers with ``ivf_postings_roll`` and emitting each
    trigger's per-cell maintenance audit. Three deterministic batches
    insert vec_id % 3 == b; batch b additionally retires current members
    with vec_id % 7 == b (batch 0 starts from an empty index). State
    round-trips through versioned parquet (post_v{b} / audit_v{b}
    overwrites — replay-safe, the ADVICE-r13 pattern), so every trigger
    reads the PERSISTED index a prior trigger wrote; no vector is ever
    re-assigned. The oracle recomputes each batch's audit from the
    membership algebra (the part13 ``_M1``/``_M2`` predicates over
    vec_id) on one cells table. Latency model as for
    ``stream_snapshot_roll``: wall ≈ trigger count × fixed per-trigger
    overhead; the data-plane assignment at this SF is milliseconds."""
    from ingestion_scripts_spark.streaming.streams import (
        ordered_batches,
        run_available_now,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")  # noqa: F405
    src = _scratch(prefix="ivfstream_src_")  # noqa: F405
    stream = ordered_batches(
        [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)], src
    )
    state = _scratch(prefix="ivfstream_state_")  # noqa: F405
    sink = _scratch(prefix="ivfstream_sink_") + "/out"  # noqa: F405
    ver = {"n": 0}

    def handle(batch_df: DataFrame, _bid: int) -> None:
        _ivf_trigger(spark, batch_df, state, sink, ver)

    run_available_now(
        stream, handle, _scratch(prefix="ckpt_"), size_from=(src,)  # noqa: F405
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(sink)
        .select(
            "batch",
            F.col("cell").cast("bigint").alias("cell"),
            "n_before", "n_added", "n_removed", "n_after",
        )
        .orderBy("batch", "cell")
    )


def _sql_stream_ivf_roll() -> str:
    cell = O.sql_ivf_cell("nv", _IVF_CENTS)
    m_after_0 = "(vec_id % 3 = 0)"
    m_after_1 = f"(({m_after_0} AND vec_id % 7 <> 1) OR vec_id % 3 = 1)"
    befores = {0: "FALSE", 1: m_after_0, 2: m_after_1}
    parts = []
    for b in (0, 1, 2):
        removed = (
            "FALSE" if b == 0 else f"({befores[b]} AND vec_id % 7 = {b})"
        )
        parts.append(f"""
bb{b} AS (SELECT cell, count(*)::BIGINT AS n_before FROM cells
          WHERE {befores[b]} GROUP BY cell),
a{b} AS (SELECT cell, count(*)::BIGINT AS n_added FROM cells
         WHERE vec_id % 3 = {b} GROUP BY cell),
r{b} AS (SELECT cell, count(*)::BIGINT AS n_removed FROM cells
         WHERE {removed} GROUP BY cell),
aud{b} AS (
  SELECT {b} AS batch, cell::BIGINT AS cell,
         coalesce(n_before, 0) AS n_before,
         coalesce(n_added, 0) AS n_added,
         coalesce(n_removed, 0) AS n_removed,
         coalesce(n_before, 0) + coalesce(n_added, 0)
           - coalesce(n_removed, 0) AS n_after
  FROM bb{b}
  FULL OUTER JOIN a{b} USING (cell)
  FULL OUTER JOIN r{b} USING (cell))""")
    ctes = ",".join(parts)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, list_transform(v, x -> x / {_IVF_NRM('v')}) AS nv FROM v),
cells AS (SELECT vec_id, {cell} AS cell FROM n),{ctes}
SELECT * FROM aud0
UNION ALL SELECT * FROM aud1
UNION ALL SELECT * FROM aud2
ORDER BY batch, cell"""


__all__ = [n for n in globals() if not n.startswith("__")]
