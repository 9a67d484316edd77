"""Deduplication operators — reference J1/K3 plus LLM-pipeline extensions.

Reference surface:
- J1 anti-join dedup: drop incoming records whose key already exists at the
  sink (``src/rss_consumer.py:56-74`` — in-memory ``links`` set probe).
- K3 unique-index dedup-at-sink (``src/rss_consumer.py:53``) — see
  ``operators/sink.py``.

Extensions (driver mandate, SURVEY.md §2.9): exact dedup, MinHash-LSH
near-dup, SimHash fingerprints, n-gram Jaccard similarity join.

All hash-based ops use ``functions.text.hash64`` (md5-derived 60-bit) so the
DuckDB oracle can reproduce values exactly; at cluster scale md5 is ~100 MB/s
per core JVM-side — fine, these ops are shuffle-bound, not hash-bound.

Scale notes:
- ``anti_join_dedup`` puts no hint on the key side: Catalyst broadcasts it
  when small (the reference held it in every worker's memory — same idea),
  and a large existing-key set gets a shuffled left-anti join, which AQE may
  still convert.
- MinHash-LSH is the 100 TB near-dup path: candidate generation touches only
  (band, bucket) groups instead of all O(n^2) pairs; the only wide ops are
  the explode-groupBy for buckets and the pair self-join within buckets.
- SimHash gives a 64-bit fingerprint per doc; near-dup = fingerprints within
  Hamming distance d, found by banding the fingerprint (pigeonhole) rather
  than all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..functions.lits import bigint_array

from ..caching import fixpoint, iterative_checkpoint
from ..functions.text import hash64, let_, ngrams, tokenize_ws
from .text_analysis import r4


def anti_join_dedup(
    incoming: DataFrame,
    existing_keys: DataFrame,
    key: str,
) -> DataFrame:
    """J1 — stream/batch-static left-anti join on ``key``.

    Reference parity: ``remove_old_articles`` (``src/rss_consumer.py:68-74``)
    probes an in-memory list loaded at startup; the broken refresh timer
    (``src/rss_consumer.py:63-65``) is NOT replicated — re-reading the static
    side per batch is Spark's default (SURVEY.md §1.5).

    No broadcast hint: the existing-key set grows with the sink, so an
    unconditional broadcast is a 100x scale killer (it must fit in driver
    AND every executor). Catalyst broadcasts only under
    ``spark.sql.autoBroadcastJoinThreshold`` using actual scan stats, and
    AQE can still convert a shuffled anti-join to broadcast at runtime from
    the true shuffle size — a size gate computed from real sizes rather
    than a hand-rolled count.
    """
    keys = existing_keys.select(key).dropDuplicates([key])
    return incoming.join(keys, on=key, how="left_anti")


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Exact dedup keeping one deterministic winner per key group.

    ``row_number() over (partition by keys order by order_by) = 1`` — the
    scalable form of ``dropDuplicates`` with a deterministic survivor.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def survivor_dedup(
    df: DataFrame,
    keys: list[str],
    prefer_desc: list[str],
    tiebreak_asc: list[str],
) -> DataFrame:
    """Policy-ranked exact dedup: keep the BEST copy per duplicate group,
    not an arbitrary one — e.g. rank duplicate web documents by quality
    score so the curated corpus retains the highest-quality capture of
    each page (``exact_dedup`` keeps the first by ascending order only).

    ``prefer_desc`` columns rank descending (higher is better); the
    ``tiebreak_asc`` columns make the winner deterministic when scores
    tie. Same scale shape as ``exact_dedup``: one keyed window, no join.
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in prefer_desc], *[F.asc(c) for c in tiebreak_asc]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def segment_df_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
    boiler_df: int = 2,
) -> DataFrame:
    """Boilerplate profiling — the diagnostic twin of ``segment_dedup``:
    instead of rewriting documents, REPORT per document how much of it is
    boilerplate (fixed ``seg_words``-word segments occurring in >=
    ``boiler_df`` distinct documents — nav bars, license headers, template
    chrome). Curation pipelines run this to pick the dedup threshold
    before committing to a destructive rewrite.

    Output: (id, n_seg, n_boiler, boiler_frac) — one row per document.

    Scale shape: identical to ``segment_dedup`` (segment-keyed DF count +
    join back), minus the reassembly shuffle — the final agg is keyed on
    the document id.
    """
    toks = docs.select(id_col, tokenize_ws(F.col(text_col)).alias("t"))
    nseg = F.ceil(F.size("t") / F.lit(float(seg_words))).cast("int")
    seg_of = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("t"), i * seg_words + F.lit(1), seg_words), " "
    )
    segs = toks.select(
        id_col,
        F.explode(
            F.when(nseg > 0, F.transform(F.sequence(F.lit(0), nseg - 1), seg_of))
            .otherwise(F.array().cast("array<string>"))
        ).alias("seg"),
    )
    seg_df = segs.groupBy("seg").agg(F.countDistinct(id_col).alias("seg_df"))
    flagged = segs.join(seg_df, "seg").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.sum((F.col("seg_df") >= boiler_df).cast("bigint")).alias("n_boiler"),
    )
    return docs.select(id_col).join(flagged, id_col, "left").select(
        id_col,
        F.coalesce("n_seg", F.lit(0)).cast("bigint").alias("n_seg"),
        F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
        r4(
            F.when(
                F.coalesce(F.col("n_seg"), F.lit(0)) > 0,
                F.col("n_boiler") / F.col("n_seg"),
            ).otherwise(F.lit(0.0))
        ).alias("boiler_frac"),
    )


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of lowercased text."""
    return F.array_distinct(ngrams(tokenize_ws(F.lower(text_col)), n))


#: 2^40 — bounds the second hash so seed * h2 + h1 stays < 2^63 for
#: num_hashes <= ~8000 (DuckDB BIGINT errors on overflow; Spark wraps —
#: staying in-range keeps both engines on the same exact integers)
_H2_MOD = 1 << 40


def seeded_hashes(s: Column, num_hashes: int) -> Column:
    """Carter-Wegman 2-universal seeded hash family: two md5-derived base
    hashes per value, then ``h_i = h1 + i * (h2 % 2^40)`` — 2 md5s instead
    of ``num_hashes``, exact in int64 on both engines."""
    h1 = hash64(s)
    h2 = hash64(F.concat(s, F.lit("#"))) % F.lit(_H2_MOD)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: h1 + i.cast("bigint") * h2,
    )


def minhash_signature(shingles_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: sig[i] = min over shingles of the i-th seeded hash
    (``seeded_hashes``). Empty shingle sets get NULL mins (handled by
    callers filtering empties)."""

    def body(sh: Column) -> Column:
        return let_(
            F.transform(sh, lambda s: seeded_hashes(s, num_hashes)),
            lambda per: F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(per, lambda hs: F.element_at(hs, i + 1))
                ),
            ),
        )

    return let_(shingles_col, body)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_shingle: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures, shuffle-based.

    Same values as ``minhash_signature`` (sig[i] = min over shingles of the
    i-th ``seeded_hashes`` value), but computed as explode → per-(doc, seed)
    min-aggregate → ordered re-nest instead of one 16-wide nested-HOF
    expression. Why: (a) tiny expression tree → fast codegen; (b) map-side
    partial min shrinks the shuffle to num_hashes rows per doc; (c) the two
    sides of the LSH self-join share this exact shuffle subplan, so Spark
    reuses the exchange instead of recomputing signatures twice. Docs with
    empty shingle sets are dropped (they cannot reach any positive
    threshold).
    """
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), n_shingle).alias("sh")
    ).filter(F.size("sh") > 0)
    return signatures_from_shingles(sh, id_col, num_hashes)


def signatures_from_shingles(
    sh: DataFrame,
    id_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """The signature tail of :func:`minhash_signatures` over an existing
    (id, sh: array<string>) table with non-empty shingle sets — split out
    so callers that ALSO need the raw shingles (every verify step does)
    can persist ONE shingle table and derive signatures from it instead
    of re-running the tokenize→ngram→distinct chain per consumer
    (optimization r14, guide §2.4/§4: the shingle expression is the
    CPU-heavy part of the whole MinHash family — lower+split+transform+
    distinct over the full corpus — and the un-split pipeline evaluated
    it three times per query: signature path plus both verify sides)."""
    hashed = (
        sh.select(id_col, F.explode("sh").alias("s"))
        .select(
            id_col,
            hash64(F.col("s")).alias("h1"),
            (hash64(F.concat(F.col("s"), F.lit("#"))) % F.lit(_H2_MOD)).alias("h2"),
        )
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed"),
            "h1",
            "h2",
        )
        .select(
            id_col,
            "seed",
            (F.col("h1") + F.col("seed").cast("bigint") * F.col("h2")).alias("h"),
        )
    )
    mins = hashed.groupBy(id_col, "seed").agg(F.min("h").alias("mh"))
    return (
        mins.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("sm"))
        .select(id_col, F.transform("sm", lambda x: x["mh"]).alias("sig"))
    )


def banded_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket): LSH band buckets — md5 over each band's
    signature slice. The shared front half of self-join (batch) and
    two-sided (incremental-vs-index) candidate generation."""
    sig = minhash_signatures(df, id_col, text_col, n_shingle, num_hashes)
    return bands_from_signatures(sig, id_col, num_hashes, bands)


def bands_from_signatures(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The banding tail of :func:`banded_buckets` over an existing
    (id, sig) table — a pure projection (md5 per band slice), no shuffle.
    Split out so callers that also need the raw signatures (e.g. the
    hot-bucket sweep's rank ordering) can persist ONE signature table and
    derive the band table from it instead of running the signature
    pipeline twice (optimization r14, guide §2.4: remove duplicate
    lineage, not just duplicate shuffles)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Returns distinct (id_a, id_b) with id_a < id_b. The self-join is per
    (band, bucket) group — the LSH pruning that makes near-dup feasible at
    scale; bucket keys are md5 over the band's signature slice.
    """
    banded = banded_buckets(df, id_col, text_col, n_shingle, num_hashes, bands)
    return pairs_from_banded(banded, id_col)


def pairs_from_banded(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a (id, band, bucket)
    table — pair generation WITHOUT a self-join: one shuffle groups ids
    per (band, bucket); in-bucket combinations come from array HOFs. A
    self-join would rescan and recompute the signature pipeline for both
    sides; this way the expensive lineage runs once. Bucket skew (a huge
    bucket → |ids|^2 pairs) is inherent to LSH banding either way."""
    pairs = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def minhash_incremental_pairs(
    index: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental near-dup: NEW batch vs the EXISTING corpus index —
    the daily-ingest shape. Candidates come from an equi-join of the two
    sides' band buckets (never a self-join over index ∪ new, which would
    re-pay the full corpus at every batch); verification re-joins the
    shingle sets for exact Jaccard. In production the index side's
    (id, band, bucket) table is persisted once and appended per batch —
    only the new side's signatures are computed per run.

    Returns (new_id, index_id, jaccard ≥ threshold). In-batch (new×new)
    dups are ``minhash_dedup_pairs`` on the batch alone — compose both
    for a full incremental dedup."""
    bi = banded_buckets(index, id_col, text_col, n_shingle, num_hashes, bands)
    bn = banded_buckets(new, id_col, text_col, n_shingle, num_hashes, bands)
    cand = (
        bn.select(F.col(id_col).alias("new_id"), "band", "bucket")
        .join(bi.select(F.col(id_col).alias("index_id"), "band", "bucket"), ["band", "bucket"])
        .select("new_id", "index_id")
        .dropDuplicates(["new_id", "index_id"])
    )
    sh_n = new.select(
        F.col(id_col).alias("new_id"), shingles(F.col(text_col), n_shingle).alias("sh_n")
    )
    sh_i = index.select(
        F.col(id_col).alias("index_id"), shingles(F.col(text_col), n_shingle).alias("sh_i")
    )
    return (
        cand.join(sh_n, "new_id")
        .join(sh_i, "index_id")
        .select(
            "new_id",
            "index_id",
            F.round(jaccard(F.col("sh_n"), F.col("sh_i")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def container_minhash_pairs(
    df: DataFrame,
    container_col: str,
    text_col: str,
    n_shingle: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Container-level MinHash similarity: one signature per CONTAINER
    (source/domain/shard) over the union of its documents' shingles, then
    pairwise signature agreement — how crawl curation finds near-mirror
    sources without ever comparing documents.

    min() is idempotent under duplicate shingles, so no per-container
    distinct is needed; the per-(container, seed) min aggregates with
    map-side partials (the shuffle carries num_hashes rows per container
    per input partition). Containers are human-scale, so the pairwise
    join on seed is tiny. Returns (src_a, src_b, n_agree, est_jaccard)
    with est_jaccard = n_agree / num_hashes — E[est] = true Jaccard of
    the shingle sets."""
    sh = df.select(
        F.col(container_col).alias("c"),
        F.explode(shingles(F.col(text_col), n_shingle)).alias("s"),
    )
    hs = sh.select(
        "c", F.posexplode(seeded_hashes(F.col("s"), num_hashes)).alias("seed", "h")
    )
    sig = hs.groupBy("c", "seed").agg(F.min("h").alias("mh"))
    a = sig.select(F.col("c").alias("src_a"), "seed", F.col("mh").alias("mh_a"))
    b = sig.select(F.col("c").alias("src_b"), "seed", F.col("mh").alias("mh_b"))
    return (
        a.join(b, "seed")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_agree")
        )
        .withColumn("est_jaccard", F.col("n_agree") / F.lit(float(num_hashes)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) for verified pairs ≥ threshold. Verification
    re-joins the shingle sets so LSH false positives are filtered; false
    negatives are the usual LSH tradeoff (prob. bounded by the band curve).

    One shingle expression feeds the signature pipeline AND both verify
    sides (r14 refactor). PERSISTING that table was measured and rejected
    (optimization r14, guide §1/§5): shingle arrays blow the corpus up
    ~3x, and materializing them into the block store cost 5-12% MORE
    than letting each of the three consumers recompute the expression
    inside its own scan stage (same-host A/B over dedup_recall /
    incremental_near_dup / dedup_threshold_curve / minhash_near_dups at
    sf0.1) — recompute pipelines into whole-stage codegen and never
    touches storage. Values are unchanged either way: the signature path
    filters empty shingle sets exactly as ``minhash_signatures`` did, and
    the verify joins only ever see candidate ids, which are all
    non-empty.
    """
    sh = df.select(F.col(id_col), shingles(F.col(text_col), n_shingle).alias("sh"))
    sig = signatures_from_shingles(
        sh.filter(F.size("sh") > 0), id_col, num_hashes
    )
    banded = bands_from_signatures(sig, id_col, num_hashes, bands)
    cand = pairs_from_banded(banded, id_col)
    return (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.3,
    n_shingle: int = 3,
) -> DataFrame:
    """Blocked exact n-gram Jaccard similarity join via inverted index.

    Instead of evaluating Jaccard per candidate pair inside a quadratic
    blocked self-join (per-pair set intersection is the classic similarity
    -join bottleneck), explode the distinct shingle sets and equi-join on
    (shingle, block): only pairs sharing at least one shingle are generated,
    the per-pair intersection size falls out of a groupBy count, and
    ``|union| = |A| + |B| - |intersect|``. For any ``threshold > 0`` the
    result is identical to the all-pairs formulation (zero-overlap pairs
    have jaccard 0), but the work is proportional to shared-shingle pairs
    and entirely shuffle-based — the shape that survives a 100x scale-up.
    The exact baseline against which MinHash recall is judged.
    """
    sh = df.select(
        F.col(id_col), F.col(block_col), shingles(F.col(text_col), n_shingle).alias("sh")
    ).filter(F.size("sh") > 0)
    ex = sh.select(
        F.col(id_col),
        F.col(block_col),
        F.size("sh").alias("n"),
        F.explode("sh").alias("s"),
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(text_col: Column, bits: int = 32) -> Column:
    """SimHash fingerprint over distinct lowercased tokens (weight 1 each).

    bit j of the fingerprint is set iff sum over tokens of
    (+1 if hash64(token) has bit j else -1) > 0. Near-dup detection then
    compares Hamming distance on the fingerprints.

    Implementation note: a single fold carries the WHOLE vote vector
    (array of ``bits`` counters, updated via zip_with against a literal
    mask array) instead of ``bits`` independent aggregate folds. Values
    are identical; the expression tree shrinks from O(bits) aggregates to
    two HOFs — measured ~6 s/query of DRIVER plan+codegen time at
    bits=60, which a fresh DataFrame pays on every invocation. (The
    DuckDB twin keeps the expanded per-bit form; DuckDB planning is
    cheap.)
    """
    masks = bigint_array([1 << j for j in range(bits)])

    def body(hashes: Column) -> Column:
        votes = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0).cast("bigint"), bits),
            lambda acc, h: F.zip_with(
                acc,
                masks,
                lambda a, m: a
                + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
            ),
        )
        return F.aggregate(
            F.zip_with(
                votes,
                masks,
                lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    toks = F.array_distinct(tokenize_ws(F.lower(text_col)))
    return let_(F.transform(toks, hash64), body)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate JOIN via banded candidates (Manku et al.,
    WWW'07): any pair within Hamming distance d < ``bands`` must agree on
    at least one of the ``bands`` bit-bands (pigeonhole), so candidates are
    an equi-join on (band index, band value) — never all-pairs — and the
    verify step is one ``bit_count(xor)`` per candidate.

    100 TB shape — exact-cluster staging (the `minhash_dedup_pairs_canonical`
    lesson applied to Hamming space): identical fingerprints are collapsed
    FIRST, banding and candidate pair-gen run over DISTINCT fingerprints
    only, and document pairs are expanded back at the end. On dup-heavy
    corpora (the normal web-scale case) naive banding generates Θ(d²)
    candidates per identical cluster of size d — measured 2.9M candidates
    for 5k docs here — while the staged form's candidate stage is bounded
    by distinct fingerprints and everything after is output-sized.
    The fingerprint lineage runs once (no self-join); band values derive
    from the fp COLUMN after a sequence-explode so the large fingerprint
    expression appears exactly once in the plan.
    """
    if bands <= max_hamming:
        raise ValueError("pigeonhole guarantee needs bands > max_hamming")
    band_width = bits // bands
    mask = (1 << band_width) - 1
    fp = df.select(F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("fp"))
    clusters = fp.groupBy("fp").agg(F.array_sort(F.collect_list("id")).alias("ids"))

    # hamming-0 pairs: within-cluster expansion (inherently output-sized)
    intra = (
        clusters.filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(0).cast("bigint").alias("hamming"))
    )

    # banding over DISTINCT fingerprints only
    banded = clusters.select(
        "fp", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("bi")
    ).select(
        "fp", "bi", F.expr(f"shiftright(fp, bi * {band_width}) & {mask}").alias("bv")
    )
    fp_pairs = (
        banded.groupBy("bi", "bv")
        .agg(F.array_sort(F.collect_list("fp")).alias("m"))
        .filter(F.size("m") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i + 2, size(m)), "
                    "y -> struct(x AS fa, y AS fb))))"
                )
            ).alias("p")
        )
        .select("p.fa", "p.fb")
        .dropDuplicates(["fa", "fb"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)  # distinct fps -> hamming >= 1
    )

    # expand verified fingerprint pairs to document pairs (output-sized)
    inter = (
        fp_pairs.join(
            clusters.select(F.col("fp").alias("fa"), F.col("ids").alias("ids_a")),
            "fa",
        )
        .join(
            clusters.select(F.col("fp").alias("fb"), F.col("ids").alias("ids_b")),
            "fb",
        )
        .select(
            "hamming",
            F.explode(
                F.expr(
                    "transform(flatten(transform(ids_a, x -> "
                    "transform(ids_b, y -> struct(x AS u, y AS v)))), "
                    "s -> struct(least(s.u, s.v) AS id_a, "
                    "greatest(s.u, s.v) AS id_b))"
                )
            ).alias("p"),
        )
        .select("p.id_a", "p.id_b", "hamming")
    )
    return intra.unionByName(inter)


def minhash_dedup_pairs_canonical(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs for dup-heavy corpora: exact-dedup FIRST, then
    MinHash among representatives only.

    Why: with exact-duplicate clusters of size d, LSH buckets contain the
    whole cluster and in-bucket pair generation is Θ(d²) per cluster —
    measured 209 s vs ~12 s on a 100k-doc corpus where every text has 19
    exact copies. Canonicalizing by content hash first (one cheap
    hash-groupBy) collapses each cluster to one representative; near-dup
    detection then runs on unique content, which is how a 100 TB dedup
    pipeline should always be staged. Returns representative-level pairs
    (id = min id of each exact-dup group) plus the group sizes so callers
    can expand or weight.
    """
    keyed = df.select(F.col(id_col), F.col(text_col), hash64(F.col(text_col)).alias("__h"))
    reps = keyed.groupBy("__h").agg(
        F.min(id_col).alias(id_col),
        F.first(text_col).alias(text_col),
        F.count(F.lit(1)).alias("group_size"),
    )
    pairs = minhash_dedup_pairs(
        reps, id_col, text_col, threshold, n_shingle, num_hashes, bands
    )
    sizes = reps.select(F.col(id_col), "group_size")
    return (
        pairs.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("group_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("group_size", "size_b"), "id_b")
        .select("id_a", "id_b", "jaccard", "size_a", "size_b")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over a near-dup
    pair graph, as iterative min-label propagation.

    Pair-level dedup under-deletes: if A~B and B~C but A≁C, dropping only
    the higher id of each pair keeps two of three docs of one duplicate
    cluster. The component id (= min doc id in the cluster) gives the
    canonical survivor per CLUSTER.

    Each iteration is one shuffle (edges ⋈ labels, then min-agg); the label
    frontier converges in O(graph diameter) rounds — near-dup clusters are
    dense and shallow, so typically 2-4. ``localCheckpoint`` truncates the
    lineage each round so the plan does not grow unboundedly (at cluster
    scale, swap in reliable ``checkpoint``; the alternating large-star /
    small-star variant [Kiveris et al., SoCC'14] halves diameter per round
    for adversarially long chains — same join/agg shapes).

    Returns (node, component): every node that appears in ``pairs``, keyed
    to the minimum id reachable from it. Singletons never enter the graph —
    callers coalesce(component, id) when mapping a full table.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = iterative_checkpoint(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )

    def propagate(labels: DataFrame, _r: int) -> DataFrame:
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("b"), "comp"), "b"
            )
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry the previous label through the checkpoint so the changed-
        # check is a scan of the materialized frame, not a node-keyed
        # self-join + shuffle per round (optimization r14, guide §2.4)
        return labels.join(nbr, labels.node == nbr.a, "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
            F.col("comp").alias("__prev"),
        )

    # a budget too small for the component diameter (long chains — the
    # SNM / sorted-key topology) raises instead of returning silently
    # WRONG components; connected_components_star is the O(log diameter)
    # engine for such graphs
    labels, _ = fixpoint(
        propagate,
        edges.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("comp")
        ),
        rounds=max_iter,
        converged=lambda _prev, new: new.filter(
            F.col("comp") != F.col("__prev")
        ).limit(1).count() == 0,
        name="connected_components",
    )
    return labels.select("node", "comp")


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """Cross-document exact segment dedup — the line-level dedup step of
    web-curation pipelines (RefinedWeb/CCNet drop lines repeated across
    pages) re-expressed for unstructured text: tokenize, chunk into fixed
    ``seg_words``-word segments, drop every segment whose verbatim text
    occurs in more than ``max_docs`` distinct documents, reassemble the
    survivors in original order.

    Output: (id, dedup_text, n_seg, n_kept) — one row per input document,
    ``dedup_text = ''`` when nothing survives.

    Scale shape: one shuffle keyed on segment text for document frequency
    (map-side partial agg), one co-partitioned join of frequencies back
    onto segments (Catalyst reuses the groupBy exchange on the count
    side), one shuffle regrouping by document. Reassembly sorts only the
    per-document segment list (array_sort after collect_list) — there is
    no global sort, and no segment's state exceeds its own (doc, idx)
    postings, so skewed popular segments cost their posting list, never a
    cross-product.
    """
    toks = docs.select(id_col, tokenize_ws(F.col(text_col)).alias("t"))
    nseg = F.ceil(F.size("t") / F.lit(float(seg_words))).cast("int")
    seg_of = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("t"), i * seg_words + F.lit(1), seg_words), " "
    )
    segs = toks.select(
        id_col,
        F.posexplode(
            F.when(nseg > 0, F.transform(F.sequence(F.lit(0), nseg - 1), seg_of))
            .otherwise(F.array().cast("array<string>"))
        ).alias("seg_idx", "seg"),
    )
    seg_df = segs.groupBy("seg").agg(
        F.countDistinct(id_col).alias("seg_df")
    )
    kept = segs.join(seg_df, "seg").filter(F.col("seg_df") <= max_docs)
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("dedup_text"),
        F.count("*").alias("n_kept"),
    )
    totals = toks.select(id_col, nseg.cast("bigint").alias("n_seg"))
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        "n_seg",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


# -- Bloom-filter membership gate ------------------------------------------

#: 60-bit words (bit index 0..59) so `1 << bit` never touches the sign bit
#: on either engine (DuckDB raises on BIGINT shift overflow).
_BLOOM_WORD = 60


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = 4096, k: int = 4
) -> DataFrame:
    """Bloom filter over a key set as (``__slot``, ``__bits``) words.

    Each key sets k salted md5-derived bit positions; words aggregate via
    ``bit_or`` with map-side partials, so the filter is ceil(m/60) rows
    TOTAL no matter how many keys feed it. This is the scalable pre-gate
    for sink dedup (K3/J1): at 100 TB the already-ingested ledger doesn't
    fit a broadcast hash set, but its Bloom filter is a few KB — new keys
    are pre-filtered with zero shuffle and only the "maybe" survivors pay
    the exact shuffled anti-join. No false negatives by construction;
    false positives only cost a second look.
    """
    probes = keys.select(
        F.col(key_col).cast("string").alias("__k"),
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("__i"),
    )
    p = hash64(F.concat_ws(":", F.col("__i"), F.col("__k"))) % m_bits
    return (
        probes.select(p.alias("__p"))
        .select(
            (F.col("__p") / _BLOOM_WORD).cast("bigint").alias("__slot"),
            # shiftleft() the SQL function takes a column bit count; the
            # Python wrapper only accepts a literal int
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p % {_BLOOM_WORD} AS INT))"
            ).alias("__m"),
        )
        .groupBy("__slot")
        .agg(F.bit_or("__m").alias("__bits"))
    )


def bloom_maybe_contains(
    df: DataFrame, bloom: DataFrame, key_col: str, m_bits: int = 4096, k: int = 4,
    out_col: str = "maybe_in",
) -> DataFrame:
    """Append ``out_col`` (int 0/1): 1 iff ALL k bloom bits for the key are
    set. The bloom side is rows=ceil(m/60) and broadcast — membership is a
    narrow map over ``df``, never a shuffle of the probed keys."""
    probes = df.select(
        F.col(key_col),
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("__i"),
    )
    p = hash64(F.concat_ws(":", F.col("__i"), F.col(key_col).cast("string"))) % m_bits
    probes = probes.select(
        F.col(key_col),
        (p / _BLOOM_WORD).cast("bigint").alias("__slot"),
        (p % _BLOOM_WORD).cast("int").alias("__bit"),
    )
    hit = F.expr(
        "CAST(shiftright(coalesce(__bits, CAST(0 AS BIGINT)), __bit) & 1 AS INT)"
    )
    return (
        probes.join(F.broadcast(bloom), "__slot", "left")
        .select(F.col(key_col), hit.alias("__hit"))
        .groupBy(key_col)
        .agg(F.min("__hit").alias(out_col))
    )


def sql_bloom_gate(
    keys_expr: str, probe_expr: str, key_col: str, m_bits: int = 4096, k: int = 4
) -> str:
    """DuckDB twin of bloom_build + bloom_maybe_contains: same salted
    hashes, same 60-bit words, so even the FALSE POSITIVES are identical.
    ``keys_expr``/``probe_expr`` are relations each yielding one ``__k``
    column; returns (key, maybe_in)."""
    from ..oracle import sql_hash64

    h = sql_hash64("(r.i || ':' || t.__k)")
    w = _BLOOM_WORD
    return f"""
WITH pos AS (
  SELECT {h} % {m_bits} AS p
  FROM ({keys_expr}) t, (SELECT unnest(range({k})) AS i) r),
slots AS (
  SELECT p // {w} AS slot, bit_or(1::BIGINT << CAST(p % {w} AS INTEGER)) AS bits
  FROM pos GROUP BY 1),
probe AS (
  SELECT t.__k, {h} % {m_bits} AS p
  FROM ({probe_expr}) t, (SELECT unnest(range({k})) AS i) r)
SELECT probe.__k AS {key_col},
       CAST(min(CASE WHEN (coalesce(s.bits, 0) >> CAST(probe.p % {w} AS INTEGER)) & 1 = 1
                     THEN 1 ELSE 0 END) AS INTEGER) AS maybe_in
FROM probe LEFT JOIN slots s ON s.slot = probe.p // {w}
GROUP BY 1"""


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 12,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-chain-safe variant of
    ``connected_components``: each large-star + small-star round roughly
    halves component diameter, so a path graph of length L converges in
    O(log L) rounds where plain min-label propagation needs O(L).

    large-star: every node u connects each STRICTLY GREATER neighbor v to
    u's minimum neighbor-or-self m(u) (edges (v, m)).
    small-star: every node u connects all LESser-or-equal neighbors and
    itself to m(u).

    Both steps are a groupBy(u) + min + re-emit — two keyed shuffles per
    round and one checkpoint per round (``caching.fixpoint``). The loop
    stops at the first round that leaves the edge set unchanged;
    ``max_iter`` rounds may change it (a diameter up to ~2^max_iter) and
    one more observes the fixed point — past that it raises
    ``NotConvergedError``. Returns (node, comp) for every node appearing
    in ``pairs``, identical to ``connected_components`` output
    (differentially pinned in tests).
    """
    from .graph import symmetrize_distinct

    e = pairs.select(
        F.col(src).cast("bigint").alias("a"), F.col(dst).cast("bigint").alias("b")
    )
    # undirected, no self-loops: canonical-pair distinct + disjoint
    # orientation union (E rows through the seed shuffle, not 2E)
    edges = iterative_checkpoint(symmetrize_distinct(e))
    all_nodes = iterative_checkpoint(
        edges.select(F.col("a").alias("node")).distinct()
    )

    def star_round(e: DataFrame, _r: int) -> DataFrame:
        # large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u
        nbr_min = e.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            e.join(nbr_min, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        und_large = symmetrize_distinct(large)

        # small-star: for each u, m = min(N<=(u) ∪ {u}); emit (v, m) for v in N(u), v <= u, plus (u, m)
        le = und_large.filter(F.col("b") <= F.col("a"))
        m_small = le.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        small = (
            le.join(m_small, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(m_small.select(F.col("a"), F.col("m").alias("b")))
        )
        return symmetrize_distinct(small)

    def unchanged(prev: DataFrame, new: DataFrame) -> bool:
        # both sides are DISTINCT undirected edge sets, so they are equal
        # iff their keyed full-outer diff is empty: exact set equality in
        # one aggregate (a star-shape predicate is not exact — it flags
        # every hub→leaf edge of a finished star as unfinished)
        diff = prev.withColumn("__p", F.lit(1)).join(
            new.withColumn("__n", F.lit(1)), ["a", "b"], "full_outer"
        )
        return diff.agg(
            F.count(F.when(F.col("__p").isNull() | F.col("__n").isNull(), 1))
        ).first()[0] == 0

    edges, _ = fixpoint(
        star_round,
        edges,
        rounds=max_iter,
        converged=unchanged,
        name="connected_components_star",
    )

    comp = edges.groupBy("a").agg(F.min("b").alias("m")).select(
        F.col("a").alias("node"),
        F.least(F.col("a"), F.col("m")).alias("comp"),
    )
    return (
        all_nodes.join(comp, "node", "left")
        .select("node", F.coalesce(F.col("comp"), F.col("node")).alias("comp"))
    )


# ---------------------------------------------------------------------------
# Connected-components selection policy (VERDICT r4 item 7)
# ---------------------------------------------------------------------------
#: Which CC to call:
#:
#: * ``components`` (= ``connected_components_star``) is the DEFAULT for any
#:   graph whose diameter is not known to be small: entity-resolution
#:   blocking graphs, SNM neighbor chains, co-occurrence graphs, anything
#:   adversarial or user-supplied. Alternating large-star/small-star halves
#:   diameter per round (Kiveris et al., SoCC'14), so a length-L chain
#:   costs O(log L) rounds where min-label propagation costs O(L) — at
#:   100 TB an unnoticed long chain turns min-label into hundreds of
#:   shuffles. Star also FAILS LOUDLY when unconverged.
#:
#: * ``connected_components`` (min-label) is the cheaper choice ONLY when
#:   the topology guarantees a shallow diameter — MinHash near-dup clusters
#:   are dense and 2-4 hops deep — and it doubles as the differential
#:   oracle for the star variant (tests/test_cc_star.py pins equality on
#:   random graphs, paths, stars, and disjoint cliques). Its ``max_iter``
#:   guard raises rather than returning partial labels, so a wrong guess
#:   about diameter is an error, not silent corruption.
components = connected_components_star


def _assert_disjoint_delta(
    base_ids: DataFrame,
    insert_ids: DataFrame,
    delete_ids: DataFrame,
    id_col: str,
) -> None:
    """Contract guard for snapshot deltas (ADVICE r12): the formed/
    dissolved identities assume insert ids are NEW (absent from the base
    snapshot) and never also deleted in the same roll — a violating
    delta would be silently emitted as wrong 'formed' rows, not an
    error. Two delta-scaled semi-joins (the base side is an id-column-
    pruned scan), each probed with ``isEmpty``; fails loudly with an
    offending-id sample, consistent with the repo's fail-don't-corrupt
    convention for contract breaches (route-don't-crash applies to DATA
    rows, not to caller API misuse)."""
    # both probes in ONE action (optimization r14): the two delta-scaled
    # semi-joins union with a kind tag and a single bounded collect
    # replaces two isEmpty jobs (+ a collect per violation) — same loud
    # failures, same precedence (base-collision checked first), half the
    # guard's job count on every validated roll.
    bad = (
        insert_ids.join(base_ids, id_col, "semi")
        .select(F.col(id_col), F.lit("base").alias("__kind"))
        .unionByName(
            insert_ids.join(delete_ids, id_col, "semi")
            .select(F.col(id_col), F.lit("del").alias("__kind"))
        )
        .limit(10)
        .collect()
    )
    dup_base = [r[0] for r in bad if r["__kind"] == "base"]
    if dup_base:
        raise ValueError(
            "snapshot delta contract violated: insert ids already present "
            f"in base (an update is delete+insert of a NEW version id, the "
            f"SCD shape): sample {dup_base[:5]}"
        )
    dup_del = [r[0] for r in bad if r["__kind"] == "del"]
    if dup_del:
        raise ValueError(
            "snapshot delta contract violated: ids present in BOTH inserts "
            f"and delete_ids: sample {dup_del[:5]}"
        )


def snapshot_band_delta(
    base: DataFrame,
    inserts: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    validate: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental near-dup maintenance (VERDICT r11 item
    5): the ivm.py maintained-view pattern applied to the MinHash band
    tables — the streaming-corpus dedup a growing crawl needs when a new
    snapshot both ADDS and RETIRES documents.

    Inputs are the delta between snapshot1 (= ``base``) and snapshot2
    (= base − deletes + inserts): ``inserts`` carries (id, text) rows
    whose ids are NOT in base; ``delete_ids`` carries one column of base
    ids leaving the corpus. Disjointness of insert/delete id sets is the
    contract (an update is delete+insert of a NEW version id, the SCD
    shape used everywhere else in this repo). ``validate=True`` (default)
    enforces it eagerly — two delta-scaled semi-join ``isEmpty`` probes,
    ADVICE r12 — raising ``ValueError`` instead of emitting wrong-not-
    failed 'formed' rows on a bad delta; pipelines that construct the
    delta by disjoint predicates may pass ``validate=False``.

    The maintained band table is per-row derived state, so maintenance
    is pure set algebra — B' = (B ∖ bands(deletes)) ∪ bands(inserts) —
    and the verified-pair DELTA is delta-driven on both sides:

    * ``formed``    = verified pairs of snapshot2 with ≥1 inserted
      endpoint: candidates from bands(inserts) ⋈ B' (insert-insert and
      insert-survivor alike), Jaccard-verified on snapshot2 texts;
    * ``dissolved`` = verified pairs of snapshot1 with ≥1 deleted
      endpoint: candidates from bands(deletes) ⋈ B, verified on
      snapshot1 texts.

    Because insert ids are new and survivor texts are untouched, these
    are EXACTLY pairs(snapshot2) ∖ pairs(snapshot1) and
    pairs(snapshot1) ∖ pairs(snapshot2) — the full-recompute diff the
    DuckDB oracle computes, without this side ever re-pairing the
    surviving corpus against itself.

    Returns (id1, id2, jaccard, status) with id1 < id2,
    status ∈ {'formed', 'dissolved'}.

    Scale shape: signatures are computed for base once per snapshot roll;
    the production path where B PERSISTS as a table and only delta
    signatures are computed is :func:`snapshot_band_roll`, which this
    function now wraps. Candidate generation is band-bucket equi-joins
    keyed by (band, bucket) — delta-size × bucket-width, never corpus²;
    Jaccard verification joins shingle sets only for candidate endpoints.
    """
    did = delete_ids.columns[0]
    dels = delete_ids.select(F.col(did).alias(id_col)).distinct()
    if validate:
        _assert_disjoint_delta(
            base.select(id_col), inserts.select(id_col), dels, id_col
        )

    bb_base = banded_buckets(base, id_col, text_col, n_shingle, num_hashes, bands)
    texts = base.select(id_col, text_col).unionByName(
        inserts.select(id_col, text_col)
    )
    # thin wrapper over the persisted-band-table production entry point,
    # with B computed from texts — the shape the bench/oracle harness
    # certifies; validation already ran above on base ids directly (a
    # semi-join against bb_base's id column would drag the whole banding
    # pipeline into the probe)
    _, delta = snapshot_band_roll(
        bb_base,
        texts,
        inserts,
        dels,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        n_shingle=n_shingle,
        num_hashes=num_hashes,
        bands=bands,
        validate=False,
    )
    return delta


def _verify_tagged_pairs(
    cand: DataFrame,
    texts_lk: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n_shingle: int,
) -> DataFrame:
    """Jaccard-verify STATUS-TAGGED candidate pairs (id1, id2, status)
    against a doc-store lookup in one pass: shingling is restricted to
    candidate endpoints (semi-join — candidates are delta-scaled, so the
    shuffled shingle-array volume stays delta-bounded instead of
    corpus-bounded), and because the status tag rides the candidate row,
    every status family shares the SAME endpoint-shingle build and verify
    join instead of paying one per family (optimization r14, guide §1.2).
    Returns (id1, id2, jaccard, status) with jaccard rounded to 6 dp and
    filtered at ``threshold``."""
    ends = (
        cand.select(F.col("id1").alias(id_col))
        .unionByName(cand.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    sh = texts_lk.join(ends, id_col, "semi").select(
        F.col(id_col).alias("__vid"),
        shingles(F.col(text_col), n_shingle).alias("__sh"),
    )
    return (
        cand.join(
            sh.select(F.col("__vid").alias("id1"), F.col("__sh").alias("__sh1")),
            "id1",
        )
        .join(
            sh.select(F.col("__vid").alias("id2"), F.col("__sh").alias("__sh2")),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.round(jaccard(F.col("__sh1"), F.col("__sh2")), 6).alias("jaccard"),
            "status",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def snapshot_band_roll(
    base_bands: DataFrame,
    texts: DataFrame,
    inserts: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    validate: bool = True,
    base_ids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Maintained-state snapshot roll over a PERSISTED MinHash band table
    (VERDICT r12 missing #3): the production contract
    :func:`snapshot_band_delta` documents — B persists as a (id, band,
    bucket) table across rolls; a roll computes signatures for the DELTA
    only and returns the next band table alongside the verified pair
    delta.

    Inputs:

    * ``base_bands`` — snapshot1's band table (id, band, bucket), e.g.
      parquet written by a prior roll (or bootstrapped once with
      :func:`banded_buckets`);
    * ``texts`` — the doc-store lookup (id, text) covering snapshot1 ∪
      inserts; only candidate-pair ENDPOINTS are ever read from it, so at
      100 TB this is the point-lookup side of the verify joins, never a
      full scan of text bytes;
    * ``inserts`` / ``delete_ids`` — the roll's delta, same disjointness
      contract as :func:`snapshot_band_delta` (``validate=True`` enforces
      it eagerly; here the insert-vs-base probe semi-joins the band
      table's id column — a pruned scan of the persisted table, cheap).
      KNOWN GAP of the band-table probe (ADVICE r13): base docs shorter
      than ``n_shingle`` tokens have NO band rows, so an insert id
      colliding with such an unbanded base doc passes silently and would
      duplicate that id in the doc store. Pass ``base_ids`` (one id
      column — e.g. the persisted corpus/texts table's id projection)
      when the caller has a complete snapshot1 membership set; the guard
      then probes against it instead of the band table.

    Returns ``(new_bands, delta)``:

    * ``new_bands`` = (B ∖ bands(deletes)) ∪ bands(inserts) — write this
      as snapshot2's band table; identical to ``banded_buckets`` of
      snapshot2 recomputed from scratch (law-tested);
    * ``delta`` = (id1, id2, jaccard, status ∈ {'formed','dissolved'})
      with id1 < id2 — exactly pairs(snapshot2) ∖ pairs(snapshot1) and
      vice versa, as for :func:`snapshot_band_delta`.

    Scale shape: the corpus is NEVER re-signed — minhashing touches only
    ``inserts``; candidate generation is band-bucket equi-joins keyed by
    (band, bucket), delta-size × bucket-width; Jaccard verification
    reshingles candidate endpoints only (semi-join into ``texts``). The
    only corpus-bounded work is the pruned scan + anti-join of the
    persisted band table itself — unavoidable, since B' must be written.
    """
    did = delete_ids.columns[0]
    dels = delete_ids.select(F.col(did).alias(id_col)).distinct()
    if validate:
        probe = (
            base_ids.select(F.col(base_ids.columns[0]).alias(id_col))
            if base_ids is not None
            else base_bands.select(id_col)
        )
        _assert_disjoint_delta(probe, inserts.select(id_col), dels, id_col)

    bb_ins = banded_buckets(inserts, id_col, text_col, n_shingle, num_hashes, bands)
    bb_surv = base_bands.join(dels, id_col, "left_anti")
    bb_maint = bb_surv.unionByName(bb_ins)  # B' — the next band table
    texts_lk = texts.select(id_col, text_col)

    def _cand(delta_bb: DataFrame, table_bb: DataFrame) -> DataFrame:
        return (
            delta_bb.select(F.col(id_col).alias("__d"), "band", "bucket")
            .join(
                table_bb.select(F.col(id_col).alias("__o"), "band", "bucket"),
                ["band", "bucket"],
            )
            .where(F.col("__d") != F.col("__o"))
            .select(
                F.least("__d", "__o").alias("id1"),
                F.greatest("__d", "__o").alias("id2"),
            )
            .dropDuplicates(["id1", "id2"])
        )

    # ONE tagged verification pass over both candidate families
    # (optimization r14, guide §1.2): formed and dissolved candidates are
    # deduped within their own family, tagged, unioned, and verified
    # against a single endpoint-shingle build — halves the semi-join +
    # shingle + verify-join stages vs one pass per status; per-status
    # results are unchanged (status rides the candidate row).
    bb_del = base_bands.join(dels, id_col, "semi")
    cand = _cand(bb_ins, bb_maint).withColumn(
        "status", F.lit("formed")
    ).unionByName(
        _cand(bb_del, base_bands).withColumn("status", F.lit("dissolved"))
    )
    delta = _verify_tagged_pairs(
        cand, texts_lk, id_col, text_col, threshold, n_shingle
    )
    return bb_maint, delta


def band_table_stats(band_table: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Skew/health audit of a persisted LSH band table — the maintenance
    check run BEFORE a :func:`snapshot_band_roll` at scale: every roll's
    candidate join is keyed by (band, bucket), so one hot bucket of width
    w contributes w candidate rows per delta member sharing it (and
    w·(w−1)/2 pairs to a batch self-join) — quadratic blowup hides HERE,
    not in the roll's algebra.

    Per band: ``n_rows`` (table rows), ``n_buckets`` (distinct buckets),
    ``max_width`` (largest bucket), and ``pair_mass`` = Σ_buckets
    w·(w−1)/2 — the exact number of in-bucket candidate pairs a batch
    self-join over this band would generate (before cross-band dedup).
    A band whose pair_mass is dominated by max_width·(max_width−1)/2 is
    a salting/stop-bucket candidate.

    Scale shape: one (band, bucket)-keyed count (map-side partial
    combine), then a bands-row reduce — nothing corpus-global; all
    outputs exact bigints, ordered by band.
    """
    width = band_table.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    return (
        width.groupBy("band")
        .agg(
            F.sum("w").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("w").cast("bigint").alias("max_width"),
            F.sum(F.expr("w * (w - 1) div 2")).cast("bigint").alias("pair_mass"),
        )
        .orderBy("band")
    )


def capped_band_roll(
    base_bands: DataFrame,
    texts: DataFrame,
    inserts: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_width: int = 64,
    validate: bool = True,
    base_ids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`snapshot_band_roll` with HOT-BUCKET REMEDIATION (VERDICT r13
    missing #3 / next-round item 2) — the stop-bucket cap that
    :func:`band_table_stats` only measures: any (band, bucket) whose
    width in the candidate-generating band table exceeds
    ``max_bucket_width`` is EXCLUDED from candidate generation, and the
    skipped pair mass is returned as an exact audit instead of being
    silently paid or silently lost.

    Why stop-buckets rather than salting here: a bucket of width w is a
    set of documents whose MinHash band slice COLLIDES — salting the key
    would spread the rows but every cross-salt pair must still be
    enumerated to preserve recall, so salting caps the per-task skew, not
    the O(w²) pair count. A degenerate bucket at corpus scale (millions
    of boilerplate near-clones sharing a band slice) makes the pair count
    itself the problem; the production remedy (stop-words for LSH: skip
    the bucket, account the mass — same move as dropping stop-words from
    an inverted index) bounds candidates per delta member at
    ``bands × max_bucket_width`` while the audit keeps the loss exact
    and observable. Recall note: a true near-dup pair is only missed if
    EVERY band it collides on is hot — boilerplate-dominated buckets, the
    pairs exact/survivor dedup upstream should have collapsed anyway.

    Semantics (and what the DuckDB twin certifies): ``formed`` = verified
    snapshot2 pairs with ≥1 inserted endpoint that share at least one
    NON-HOT (band, bucket) in snapshot2's band table; ``dissolved``
    likewise over snapshot1 with ≥1 deleted endpoint and snapshot1
    widths. With ``max_bucket_width`` ≥ the widest bucket this is exactly
    :func:`snapshot_band_roll` (law-tested); under a binding cap it is
    the roll's delta-driven identity restricted to non-hot discovery —
    NOT the capped full-recompute diff (a deletion shrinking a bucket
    below the cap can "form" survivor-survivor pairs no delta-driven roll
    would re-examine; rolls see pairs with a delta endpoint only).

    Returns ``(new_bands, delta, audit)``; ``new_bands`` is the UNCAPPED
    maintained table (capping affects candidate generation only — the
    index keeps full fidelity so a later re-cap or offline sweep can
    recover hot-bucket pairs), ``delta`` as for
    :func:`snapshot_band_roll`, and ``audit`` one row per (side, band):
    ``side`` ∈ {'next', 'base'} (which table the cap was applied to),
    ``n_buckets``, ``n_hot_buckets``, ``kept_pair_mass``,
    ``skipped_pair_mass`` with kept + skipped == that table's
    :func:`band_table_stats` ``pair_mass`` exactly (the accounting law).

    Scale shape: adds ONE width aggregation per side — (band,
    bucket)-keyed count with map-side partial combine over the band
    table, broadcast-or-shuffle joined back on the same key the candidate
    join already shuffles on — and the candidate join itself shrinks by
    exactly the hot mass. Everything else is
    :func:`snapshot_band_roll`'s delta-bounded plan.
    """
    did = delete_ids.columns[0]
    dels = delete_ids.select(F.col(did).alias(id_col)).distinct()
    if validate:
        probe = (
            base_ids.select(F.col(base_ids.columns[0]).alias(id_col))
            if base_ids is not None
            else base_bands.select(id_col)
        )
        _assert_disjoint_delta(probe, inserts.select(id_col), dels, id_col)

    bb_ins = banded_buckets(inserts, id_col, text_col, n_shingle, num_hashes, bands)
    bb_surv = base_bands.join(dels, id_col, "left_anti")
    bb_maint = bb_surv.unionByName(bb_ins)  # B' — full-fidelity next table
    texts_lk = texts.select(id_col, text_col)

    def _widths(table_bb: DataFrame) -> DataFrame:
        return table_bb.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("__w")
        )

    def _audit(widths: DataFrame, side: str) -> DataFrame:
        hot = (F.col("__w") > max_bucket_width).cast("int")
        mass = F.expr("__w * (__w - 1) div 2")
        return (
            widths.groupBy("band")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                F.sum(hot).cast("bigint").alias("n_hot_buckets"),
                F.sum(F.when(F.col("__w") <= max_bucket_width, mass).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("kept_pair_mass"),
                F.sum(F.when(F.col("__w") > max_bucket_width, mass).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("skipped_pair_mass"),
            )
            .select(
                F.lit(side).alias("side"),
                "band",
                "n_buckets",
                "n_hot_buckets",
                "kept_pair_mass",
                "skipped_pair_mass",
            )
        )

    def _capped(table_bb: DataFrame, widths: DataFrame) -> DataFrame:
        # keep only rows of non-hot buckets: equi-join on the exact key
        # the candidate join shuffles on next, so AQE coalesces the two
        # into one exchange reuse at scale
        return table_bb.join(
            widths.filter(F.col("__w") <= max_bucket_width).select("band", "bucket"),
            ["band", "bucket"],
        )

    def _cand(delta_bb: DataFrame, table_bb: DataFrame) -> DataFrame:
        return (
            delta_bb.select(F.col(id_col).alias("__d"), "band", "bucket")
            .join(
                table_bb.select(F.col(id_col).alias("__o"), "band", "bucket"),
                ["band", "bucket"],
            )
            .where(F.col("__d") != F.col("__o"))
            .select(
                F.least("__d", "__o").alias("id1"),
                F.greatest("__d", "__o").alias("id2"),
            )
            .dropDuplicates(["id1", "id2"])
        )

    w_next = _widths(bb_maint)
    w_base = _widths(base_bands)
    # one tagged verification pass over both capped candidate families
    # (same move as snapshot_band_roll, optimization r14, guide §1.2)
    bb_del = base_bands.join(dels, id_col, "semi")
    cand = _cand(bb_ins, _capped(bb_maint, w_next)).withColumn(
        "status", F.lit("formed")
    ).unionByName(
        _cand(bb_del, _capped(base_bands, w_base)).withColumn(
            "status", F.lit("dissolved")
        )
    )
    delta = _verify_tagged_pairs(
        cand, texts_lk, id_col, text_col, threshold, n_shingle
    )
    audit = _audit(w_next, "next").unionByName(_audit(w_base, "base")).orderBy(
        "side", "band"
    )
    return bb_maint, delta, audit


def hot_bucket_sweep(
    band_table: DataFrame,
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_shingle: int = 3,
    num_hashes: int = 16,
    max_bucket_width: int = 64,
    neighbor_window: int = 8,
    sig_table: DataFrame | None = None,
) -> DataFrame:
    """Offline recovery of the pairs a stop-bucket cap refused — the
    "later re-cap or offline sweep" :func:`capped_band_roll`'s contract
    defers (its band table keeps full fidelity for exactly this job).

    A hot (band, bucket) of width w holds w·(w−1)/2 candidate pairs; an
    online roll must refuse that mass, but an offline compaction can
    afford a BOUNDED pass. This sweep is sorted-neighborhood restricted
    to hot buckets (the SNM blocking move, Hernández & Stolfo SIGMOD'95,
    applied inside an LSH bucket): hot-bucket members are re-signed
    (members only — never the corpus), ordered within each bucket by
    their full MinHash signature (similar docs sort near each other —
    the signature IS a similarity-correlated key), and only rank
    neighbors within ``neighbor_window`` become candidates. Cost is
    Σ_hot w·window instead of Σ_hot w², verified pairs are exact-Jaccard
    sound by construction, and with ``neighbor_window`` ≥ max hot width
    the sweep is COMPLETE over hot buckets — capped-roll pairs ∪ sweep
    pairs == uncapped pairs (ledgered law).

    Inputs: ``band_table`` — a persisted (id, band, bucket) table (the
    state :func:`snapshot_band_roll` maintains); ``texts`` — the doc
    store, point-read for hot members and candidate endpoints only.
    Returns distinct (id1, id2, jaccard) with id1 < id2, jaccard ≥
    ``threshold``, each pair sharing ≥ 1 hot bucket.

    Scale shape: one width aggregation (map-side combine), one semi-join
    to pull hot members' texts, the delta-bounded signature pipeline of
    :func:`minhash_signatures` over members only, ONE ranked window per
    (band, bucket) — the partition key is the bucket, so the sort is
    bucket-local, never global — and an equi-join on (band, bucket,
    rank) built by exploding ``neighbor_window`` rank offsets (no range
    join, no self-cartesian). Verification re-shingles candidate
    endpoints only.

    ``sig_table``: optional precomputed (id, sig) MinHash signatures (the
    exact :func:`minhash_signatures` values). When the caller already
    materialized signatures (e.g. it derived ``band_table`` from them via
    :func:`bands_from_signatures`), passing them here skips the members-
    only re-sign — identical values either way (signatures are a pure
    function of the text), one signature pipeline instead of two.
    """
    from ..caching import persist_tracked

    # persist the candidate pairs: three consumers (both endpoint unions
    # and the verify join) otherwise re-expand the whole width→hot→rank→
    # window candidate pipeline — 221 Exchange nodes in the un-persisted
    # sf0.1 plan vs one cached scan; the frame is bounded by
    # Σ_hot w·window BY CONSTRUCTION, the exact bound this operator
    # exists to enforce (optimization r14, guide §5)
    cand = persist_tracked(
        hot_bucket_sweep_candidates(
            band_table,
            texts,
            id_col,
            text_col,
            n_shingle,
            num_hashes,
            max_bucket_width,
            neighbor_window,
            sig_table,
        )
    )

    ends = (
        cand.select(F.col("id1").alias(id_col))
        .unionByName(cand.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    sh = texts.select(id_col, text_col).join(ends, id_col, "semi").select(
        F.col(id_col).alias("__vid"),
        shingles(F.col(text_col), n_shingle).alias("__sh"),
    )
    return (
        cand.join(
            sh.select(F.col("__vid").alias("id1"), F.col("__sh").alias("__sh1")),
            "id1",
        )
        .join(
            sh.select(F.col("__vid").alias("id2"), F.col("__sh").alias("__sh2")),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.round(jaccard(F.col("__sh1"), F.col("__sh2")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def hot_bucket_sweep_candidates(
    band_table: DataFrame,
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    num_hashes: int = 16,
    max_bucket_width: int = 64,
    neighbor_window: int = 8,
    sig_table: DataFrame | None = None,
) -> DataFrame:
    """The candidate-generation half of :func:`hot_bucket_sweep` —
    distinct (id1, id2) rank-window neighbors inside hot buckets, BEFORE
    Jaccard verification. Split out so composite queries (e.g. the
    capped-sweep recall audit) can verify sweep candidates together with
    other candidate sets in ONE shared Jaccard pass instead of paying the
    shingle-join per candidate family (optimization r14, guide §1.2)."""
    widths = band_table.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("__w")
    )
    hot_keys = widths.filter(F.col("__w") > max_bucket_width).select(
        "band", "bucket"
    )
    hot_rows = band_table.join(hot_keys, ["band", "bucket"])
    if sig_table is None:
        members = hot_rows.select(id_col).distinct()
        mem_texts = texts.select(id_col, text_col).join(members, id_col, "semi")
        sigs = minhash_signatures(
            mem_texts, id_col, text_col, n_shingle, num_hashes
        )
    else:
        sigs = sig_table.select(id_col, "sig")

    w = Window.partitionBy("band", "bucket").orderBy(
        F.col("sig"), F.col(id_col)
    )
    ranked = (
        hot_rows.join(sigs, id_col)
        .select(id_col, "band", "bucket", "sig")
        .withColumn("rnk", F.row_number().over(w))
    )
    left = ranked.select(
        F.col(id_col).alias("__a"), "band", "bucket", F.col("rnk").alias("__ra")
    ).withColumn(
        "__rb",
        F.explode(
            F.sequence(F.col("__ra") + 1, F.col("__ra") + neighbor_window)
        ),
    )
    right = ranked.select(
        F.col(id_col).alias("__b"), "band", "bucket", F.col("rnk").alias("__rb")
    )
    return (
        left.join(right, ["band", "bucket", "__rb"])
        .select(
            F.least("__a", "__b").alias("id1"),
            F.greatest("__a", "__b").alias("id2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
