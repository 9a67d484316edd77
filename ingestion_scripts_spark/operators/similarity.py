"""Similarity search over embedding columns (extension ops, SURVEY.md §2.9).

- ``cosine_topk`` — brute-force cosine top-k: the exactness baseline. The
  query side is broadcast (queries are few); the corpus scan is
  embarrassingly parallel; the only wide op is the per-query top-k, done with
  a window over a dataset already reduced to (query, candidate, sim).
- ``lsh_ann_topk`` — random-hyperplane LSH: sign-bit bucket per vector, join
  on bucket, top-k within bucket. The 100 TB path: candidate set shrinks by
  ~2^planes; hyperplanes are deterministic (md5-derived) so results are
  reproducible and oracle-checkable.
- ``ivf_ann_topk`` (and the maintained-index ``ivf_postings_roll`` /
  ``ivf_serve_from_postings``) — IVF: top-k within the probed coarse cells.

Pair dot products use ``zip_with`` + ``aggregate`` (native HOFs — a
sequential left fold, bit-identical to the DuckDB oracle's list fold).
IVF search runs as one corpus-side Arrow kernel, ``_ivf_topk``: per batch
it normalizes, assigns cells, scores each cell's rows against the queries
probing it and keeps only each query's top-k superset, so no (query,
candidate) pair row is materialized; the roll's assignment is the Arrow
kernel ``_ivf_assign``. Their numpy folds keep the sequential order
(bit-identical too). Similarities are rounded before ranking so
cross-engine float drift cannot flip a rank.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _assert_disjoint_delta
from ..functions.lits import bigint_array, double_array, sql_double_array
from ..sources.readers import spread

#: shared SQL fragments for the single-parse ``lsh_bucket`` expression:
#: building it through the Column API (one zip_with/aggregate lambda per
#: plane) costs 0.2-0.3 s of py4j round-trips PER CALL; one F.expr string
#: is one round-trip and a ~1 ms JVM parse of the IDENTICAL Catalyst tree
#: (verified value-identical; optimization r14)
_D0 = "CAST(0.0 AS DOUBLE)"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), {_D0}, "
        f"(acc, x) -> acc + x)"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def _normed(df: DataFrame, id_alias: str, id_col: str, vec_col: str, out: str) -> DataFrame:
    """(id, unit-norm vector). Norm computed ONCE per row as a projected
    column (an attribute, so the transform lambda's reference is O(1));
    downstream cosine is then a plain dot product — at 100 TB this turns
    every pairwise score from 3 array folds into 1. (Kept on the Column
    API: an F.expr variant measured no in-context win here, unlike the
    per-plane ``lsh_bucket`` expression below.)"""
    return (
        df.select(
            F.col(id_col).alias(id_alias), _as_double(F.col(vec_col)).alias("__v")
        )
        .withColumn("__n", norm(F.col("__v")))
        .select(
            id_alias,
            F.transform(F.col("__v"), lambda x: x / F.col("__n")).alias(out),
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k of corpus vectors per query vector.

    Returns (query_id, match_id, sim, rank). Self-matches excluded.
    Deterministic ranking: sim is rounded to 6 dp BEFORE ranking, ties break
    on match_id asc.
    """
    q = _normed(queries, "query_id", id_col, vec_col, "qv")
    c = _normed(spread(corpus), "match_id", id_col, vec_col, "cv")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(dot(F.col("qv"), F.col("cv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    All pairs INSIDE a block (a cluster/IVF-cell assignment at scale; the
    ``label`` column in testdata) are scored with exact cosine; pairs at or
    above ``threshold`` survive. The block key bounds the quadratic blowup
    the way an IVF coarse quantizer does — global all-pairs cosine is never
    materialized. Returns (id_a, id_b, cos) with id_a < id_b, cosine rounded
    to 6 dp before the threshold test (cross-engine determinism).
    """
    v = (
        df.select(
            F.col(block_col).alias("__b"), F.col(id_col),
            _as_double(F.col(vec_col)).alias("__raw"),
        )
        .withColumn("__n", norm(F.col("__raw")))
        .select(
            "__b", id_col,
            F.transform(F.col("__raw"), lambda x: x / F.col("__n")).alias("v"),
        )
    )
    a, b = v.alias("a"), v.alias("b")
    cos = F.round(dot(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(
            b,
            (F.col("a.__b") == F.col("b.__b"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def blocked_cosine_pairs_pandas(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Vectorized twin of ``blocked_cosine_pairs``: one numpy gram matrix
    per block via ``applyInPandas`` instead of per-pair expression folds.

    ~10-50x less CPU per pair (BLAS matmul vs interpreted HOF folds); the
    scale caveat is one block per task — block sizes must fit executor
    memory, which the IVF-cell blocking guarantees by construction. numpy's
    pairwise summation can differ from the sequential fold in the last ulp,
    so this variant is exposed with a rows-only driver check; exact
    equality with the fold-based operator on testdata is pinned by pytest.
    """
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        order = pdf[id_col].to_numpy().argsort()
        ids = pdf[id_col].to_numpy()[order]
        E = np.array(list(pdf[vec_col].to_numpy()[order]), dtype=np.float64)
        E /= np.linalg.norm(E, axis=1, keepdims=True)
        S = np.round(E @ E.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= threshold
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "cos": S[iu, ju][keep]}
        )

    return (
        df.select(F.col(block_col), F.col(id_col), F.col(vec_col))
        .groupBy(block_col)
        .applyInPandas(per_block, "id_a bigint, id_b bigint, cos double")
    )


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    Derived from md5("p,d") so any engine (incl. the DuckDB oracle) can
    reproduce them; embedded as literals in the plan (num_planes*dim doubles
    — tiny).
    """
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p},{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket id: bit p set iff dot(vec, plane_p) > 0.

    Pass the vector column's NAME for the single-parse F.expr build (all
    engine call sites do); a Column falls back to the py4j-per-plane
    builder — identical values either way (verified)."""
    if isinstance(vec, str):
        terms = ["CAST(0 AS BIGINT)"]
        for p, row in enumerate(planes):
            d = _sql_dot(vec, sql_double_array(row))
            terms.append(
                f"(CASE WHEN {d} > {_D0} THEN CAST({1 << p} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr(" + ".join(terms))
    bucket = F.lit(0).cast("bigint")
    for p, row in enumerate(planes):
        plane = double_array(row)
        bucket = bucket + F.when(
            dot(vec, plane) > 0, F.lit(1 << p).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return bucket


def ivf_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random coarse centroids in [-1, 1]^dim
    (md5-derived, engine-reproducible — a stand-in for trained k-means
    centroids; production swaps in learned ones, the plan shape is
    identical)."""
    cells = []
    for c in range(n_cells):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"ivf:{c},{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        cells.append(row)
    return cells


class MalformedVectorError(ValueError):
    """An IVF input vector that is null, has a null element, the wrong length
    or zero norm. Raised in the Python worker: the driver's task-failure
    message carries this class name, the offending id and the reason."""


def _unit_rows(batch, id_col: str, vec_col: str, dim: int):
    """(n, dim) float64 unit vectors of one Arrow batch: the HOF fold
    ``acc + x * x`` left to right over dimensions (vectorized across rows),
    sqrt, one divide per element — the IEEE operations of ``_normed``."""
    import numpy as np
    import pyarrow.compute as pc

    def bad(row, reason: str):
        rid = batch.column(id_col)[int(row)].as_py()
        raise MalformedVectorError(f"vector of {id_col}={rid}: {reason}")

    vecs = batch.column(vec_col)
    if vecs.null_count:
        bad(pc.index(vecs.is_null(), True).as_py(), "null vector")
    lens = pc.list_value_length(vecs).to_numpy()
    if (lens != dim).any():
        i = np.argmax(lens != dim)
        bad(i, f"length {lens[i]} != dim {dim}")
    flat = vecs.flatten()
    if flat.null_count:
        bad(pc.index(flat.is_null(), True).as_py() // dim, "null element")
    x = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
    acc = np.zeros(len(x))
    for j in range(dim):
        acc = acc + x[:, j] * x[:, j]
    nrm = np.sqrt(acc)
    if (nrm == 0.0).any():
        bad(np.argmax(nrm == 0.0), "zero norm")
    return x / nrm[:, None]


def _nearest_cells(u, cents, probes: int):
    """(n, probes) indices of each unit row's ``probes`` nearest centroids,
    nearest first, ties to the lower cell. Distances are the HOF fold
    ``acc + (u - c) * (u - c)`` left to right over dimensions, vectorized
    across rows and cells (no dot/sum/BLAS, whose summation order
    differs), ordered by a stable argsort: bit-identical to the oracle."""
    import numpy as np

    d2 = np.zeros((len(u), len(cents)))
    for j in range(cents.shape[1]):
        diff = u[:, j, None] - cents[None, :, j]
        d2 = d2 + diff * diff
    return np.argsort(d2, axis=1, kind="stable")[:, :probes]


def _ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str | None,
    centroids: list[list[float]],
    probes: int,
) -> DataFrame:
    """The IVF quantizer as ONE ``mapInArrow``: per Arrow batch, the unit
    vectors (``_unit_rows``) and one row per (vector, cell) for its
    ``probes`` nearest cells (``_nearest_cells``), so unit vectors and
    cells stay bit-identical to the oracle. ``out_vec=None`` drops the
    unit vector. A malformed vector raises ``MalformedVectorError``
    whatever ``spark.sql.ansi.enabled`` says: it can neither vanish nor
    score NULL."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]
    fields = [T.StructField(out_id, df.schema[id_col].dataType)]
    if out_vec:
        fields.append(T.StructField(out_vec, T.ArrayType(T.DoubleType())))
    fields.append(T.StructField("cell", T.IntegerType()))

    def assign(batches):
        for b in batches:
            u = _unit_rows(b, id_col, vec_col, dim)
            near = _nearest_cells(u, cents, probes)
            rows = np.repeat(np.arange(len(u)), probes)
            cols = [b.column(id_col).take(rows)]
            if out_vec:
                offsets = pa.array(np.arange(len(rows) + 1, dtype=np.int32) * dim)
                cols.append(pa.ListArray.from_arrays(offsets, pa.array(u[rows].ravel())))
            cols.append(pa.array(near.ravel().astype(np.int32)))
            yield pa.RecordBatch.from_arrays(cols, names=[f.name for f in fields])

    return df.select(id_col, vec_col).mapInArrow(assign, T.StructType(fields))


#: probing queries scored per block: one block's fold holds (this many
#: queries × one cell's rows of one Arrow batch) doubles
_QUERY_BLOCK = 128
#: the kernel emits every candidate within this much of its query's k-th
#: best raw sim in the block: wider than twice the 6-dp rounding
#: half-width, so every candidate that can tie the k-th after rounding
#: reaches Spark's ``match_id`` tie-break
_TIE_MARGIN = 2e-6


def _ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int,
    probes: int,
    cell_col: str | None = None,
) -> DataFrame:
    """IVF top-k as ONE corpus-side ``mapInArrow`` plus the rank window.

    Per corpus Arrow batch the kernel normalizes every row
    (``_unit_rows``), assigns its cell (``_nearest_cells``; or reads
    ``cell_col`` when serving from postings), scores each cell's rows
    against the queries probing that cell, and emits only each query's
    top-k superset of the block: every non-self candidate whose raw sim
    is at least the query's k-th best raw sim in the block minus
    ``_TIE_MARGIN``. The score is the HOF dot's sequential left fold from
    0.0 over dimensions, vectorized over the (queries × rows) block, so
    raw sims are bit-identical to ``dot`` on the same unit vectors; Spark
    then rounds to 6 dp and ranks (sim desc, match_id asc) as before. No
    (query, candidate) pair row with vectors is ever materialized.

    The query side reaches every task without a build-time job: a scalar
    subquery packs the raw (id, vector) rows into one array (evaluated
    once per execution) and only the first row of each corpus partition
    carries it. Each task normalizes and assigns the queries itself, so
    a malformed query raises ``MalformedVectorError`` in the worker."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]
    packed = queries.select(
        F.collect_list(F.struct(F.col(id_col), F.col(vec_col)))
    ).scalar()
    # monotonically_increasing_id restarts at partition_index << 33 in
    # every task: low 33 bits zero marks the partition's first row
    first = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1) == 0
    cells = [cell_col] if cell_col else []
    feed = corpus.select(
        id_col, vec_col, *cells, F.when(first, packed).alias("__queries")
    )
    out = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType),
        T.StructField("match_id", corpus.schema[id_col].dataType),
        T.StructField("sim", T.DoubleType()),
    ])

    def score(batches):
        probing = None
        for b in batches:
            if probing is None:
                head = b.column("__queries")[0]
                if not head.is_valid:
                    raise RuntimeError("IVF kernel: partition's first row lacks the query block")
                qb = pa.RecordBatch.from_struct_array(head.values)
                qids = qb.column(id_col).to_numpy(zero_copy_only=False)
                qu = _unit_rows(qb, id_col, vec_col, dim)
                near = _nearest_cells(qu, cents, probes)
                probing = [np.flatnonzero((near == c).any(axis=1)) for c in range(len(cents))]
            u = _unit_rows(b, id_col, vec_col, dim)
            if cell_col:
                cell = b.column(cell_col).to_numpy(zero_copy_only=False)
            else:
                cell = _nearest_cells(u, cents, 1)[:, 0]
            mids = b.column(id_col).to_numpy(zero_copy_only=False)
            qo, mo, so = [], [], []
            for c in np.unique(cell):
                rows = np.flatnonzero(cell == c)
                cu, cm = u[rows], mids[rows]
                for lo in range(0, len(probing[c]), _QUERY_BLOCK):
                    qs = probing[c][lo:lo + _QUERY_BLOCK]
                    qv = qu[qs]
                    acc = np.zeros((len(qs), len(rows)))
                    for j in range(dim):
                        acc = acc + qv[:, j, None] * cu[None, :, j]
                    own = qids[qs, None] == cm[None, :]
                    live = np.where(own, -np.inf, acc)
                    kth = np.full(len(qs), -np.inf)
                    if len(rows) > k:
                        kth = np.partition(live, len(rows) - k, axis=1)[:, len(rows) - k]
                    # a NaN sim (a vector with an infinite element) always
                    # passes: Spark ranks NaN above every number
                    keep = ((live >= kth[:, None] - _TIE_MARGIN) | np.isnan(acc)) & ~own
                    qi, ri = np.nonzero(keep)
                    qo.append(qs[qi])
                    mo.append(rows[ri])
                    so.append(acc[qi, ri])
            if qo:
                yield pa.RecordBatch.from_arrays(
                    [qb.column(id_col).take(np.concatenate(qo)),
                     b.column(id_col).take(np.concatenate(mo)),
                     pa.array(np.concatenate(so))],
                    names=out.names,
                )

    scored = feed.mapInArrow(score, out).select(
        "query_id", "match_id", F.round(F.col("sim"), 6).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    k: int = 10,
    probes: int = 1,
) -> DataFrame:
    """IVF-style approximate NN: exact cosine top-k restricted to the
    query's ``probes`` nearest coarse cells. The non-hashing scale path next
    to ``lsh_ann_topk``. Corpus vectors live in exactly ONE cell, so probe
    candidate sets are disjoint — the multi-probe union needs no dedup.
    Cells assigned on unit vectors; scoring is one dot, all in the fused
    corpus kernel ``_ivf_topk``. The builder runs no Spark job: the query
    block is a scalar subquery, collected once per execution."""
    return _ivf_topk(queries, spread(corpus), id_col, vec_col,
                     ivf_centroids(n_cells, dim), k, max(probes, 1))


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 6,
    k: int = 10,
) -> DataFrame:
    """Approximate NN: exact cosine top-k restricted to same-LSH-bucket
    candidates. Recall < 1 by design (the scale path); rank/tiebreak rules
    match ``cosine_topk``."""
    planes = hyperplanes(num_planes, dim)
    # bucket computed from the unit vector (sign bits are scale-invariant
    # mathematically; computing on the SAME normalized values both here and
    # in the oracle keeps borderline-zero dots bit-identical cross-engine)
    q = _normed(queries, "query_id", id_col, vec_col, "qv").withColumn(
        "bucket", lsh_bucket("qv", planes)
    )
    c = _normed(spread(corpus), "match_id", id_col, vec_col, "cv").withColumn(
        "bucket", lsh_bucket("cv", planes)
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(dot(F.col("qv"), F.col("cv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sparse_cosine_pairs(
    docs: DataFrame,
    id_col: str,
    terms_col: str,
    min_cos_micro: int = 500000,
) -> DataFrame:
    """TF-IDF-weighted SPARSE cosine near-dup pairs via an inverted index —
    the sparse complement to the dense-embedding kernels: no embedding
    model needed, weights come from the corpus itself.

    Shape (all keyed shuffles, no all-pairs): per-doc term counts → global
    document frequencies → r6-rounded tf-idf weights snapped to EXACT
    int64 micro-units → postings join on term (id_a < id_b) → per-pair
    dot = SUM of int products (exact, any partitioning) → cosine from
    exact integer dot and norms, one float divide + sqrt at the end.

    Works on any term column; callers pass discriminative terms (shingles)
    so posting lists stay short — the same argument as prefix filtering:
    candidate volume is bounded by posting-list sizes, not n².

    ``min_cos_micro`` gates on cos·1e6 >= threshold with the comparison
    done on the float cosine AFTER r4 rounding (identical in both engines
    since all inputs are exact integers).

    Returns (id_a, id_b, cos) with cos rounded to 4 dp.
    """
    from ingestion_scripts_spark.caching import persist_tracked

    # the (doc, term, cnt) inverted index feeds FIVE consumers (dl, df,
    # and through w: norms + both posting sides) and the optimizer does
    # NOT dedupe the identical aggregate subtrees (12 copies of the
    # term-explode lineage in the unpersisted plan — optimization r14,
    # guide §5: reused + expensive-to-recompute ⇒ persist; MEMORY_AND_DISK
    # degrades to spill at corpus scale)
    tf = persist_tracked(
        docs.select(F.col(id_col).alias("__id"), F.explode(terms_col).alias("t"))
        .groupBy("__id", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dl = tf.groupBy("__id").agg(F.sum("cnt").alias("dl"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("dfc"))
    n_docs = docs.select(F.count_distinct(F.col(id_col)).alias("nd"))
    r6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    w = (
        tf.join(dl, "__id")
        .join(dfreq, "t")
        .join(F.broadcast(n_docs))
        .select(
            "__id",
            "t",
            # weight snapped to exact integer micro-units: every downstream
            # sum (dot products, norms) is exact int64 arithmetic, immune
            # to partitioning / merge order on both engines
            (
                r6(
                    (F.col("cnt") / F.col("dl"))
                    * (F.log((F.col("nd") + 1.0) / (F.col("dfc") + 1.0)) + 1.0)
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("wi"),
        )
    )
    # three consumers of the weighted index (norms + both posting sides)
    w = persist_tracked(w)
    norms = w.groupBy("__id").agg(F.sum(F.col("wi") * F.col("wi")).alias("n2"))
    a = w.select(F.col("__id").alias("id_a"), "t", F.col("wi").alias("wa"))
    b = w.select(F.col("__id").alias("id_b"), "t", F.col("wi").alias("wb"))
    dots = (
        a.join(b, "t")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("__id").alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("__id").alias("id_b"), F.col("n2").alias("nb2"))
    from ingestion_scripts_spark.operators.text_analysis import r4

    cos = r4(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(min_cos_micro) / 1000000.0)
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_candidates: int = 8,
    k_select: int = 3,
    lam_num: int = 7,
    lam_den: int = 10,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick ``k_select``
    results per query that balance query relevance against redundancy with
    the already-picked set (diverse retrieval — the standard anti-"eight
    copies of the same passage" step in RAG and dedup-aware search).

    score(c | S) = lam * sim(q, c) - (1 - lam) * max_{s in S} sim(c, s)

    Cross-engine exactness: cosine sims are rounded to 6 dp (the repo-wide
    similarity law) and lifted to BIGINT micro-units; the MMR score is then
    ``lam_num * simu - (lam_den - lam_num) * max_psimu`` — NO division, so
    there is no floor-vs-truncate ambiguity on negative scores, and greedy
    picks (desc score, asc id) are bit-identical on any engine/partitioning.

    The greedy loop is unrolled ``k_select`` times into the plan: each round
    is a bounded join against the (tiny, per-query <= k_select) selected
    set — no driver-side state, no action at build time. Candidate
    generation reuses cosine_topk's broadcast kernel; candidate-candidate
    sims are k^2 per query, bounded by construction.

    Returns (query_id, match_id, sel_round, sim, mmr_score10) where
    ``mmr_score10`` is in lam_den * 1e-7 units (score10 = 10x micro).
    """
    from ingestion_scripts_spark.caching import persist_tracked

    mu = lam_den - lam_num
    # persist the candidate table: every unrolled greedy round references
    # it (remaining + scored), and its lineage is the full broadcast-query
    # × corpus scan — un-persisted, the k_select-round plan re-expanded
    # that kernel ~2·k_select times (optimization r14, guide §5; the
    # cached frame is nq × k_candidates rows)
    cand = persist_tracked(
        cosine_topk(queries, corpus, id_col, vec_col, k=k_candidates)
        .withColumn("simu", F.round(F.col("sim") * 1e6).cast("bigint"))
        .select("query_id", "match_id", "sim", "simu")
    )
    cv = _normed(corpus, "cid", id_col, vec_col, "cv")
    pa = (
        cand.select("query_id", F.col("match_id").alias("id_a"))
        .join(cv, F.col("id_a") == F.col("cid"))
        .select("query_id", "id_a", F.col("cv").alias("va"))
    )
    pb = (
        cand.select("query_id", F.col("match_id").alias("id_b"))
        .join(cv, F.col("id_b") == F.col("cid"))
        .select("query_id", "id_b", F.col("cv").alias("vb"))
    )
    pairs = (
        pa.join(pb, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            F.round(F.round(dot(F.col("va"), F.col("vb")), 6) * 1e6)
            .cast("bigint")
            .alias("psimu"),
        )
    )

    # candidate-candidate sims: referenced by every round ≥ 2's redundancy
    # join — nq × k² rows, persisted for the same re-expansion reason
    pairs = persist_tracked(pairs)

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score10"), F.asc("match_id")
    )
    selected = None  # (query_id, sel_id) accumulated picks
    out = None
    for rnd in range(1, k_select + 1):
        if selected is None:
            remaining = cand
            scored = remaining.withColumn(
                "score10", (F.lit(lam_num) * F.col("simu")).cast("bigint")
            )
        else:
            remaining = cand.join(
                selected.select(
                    "query_id", F.col("sel_id").alias("match_id")
                ),
                ["query_id", "match_id"],
                "left_anti",
            )
            redundancy = (
                pairs.join(
                    selected,
                    (pairs.query_id == selected.query_id)
                    & (pairs.id_b == selected.sel_id),
                )
                .select(pairs.query_id, pairs.id_a, pairs.psimu)
                .groupBy("query_id", "id_a")
                .agg(F.max("psimu").alias("max_psimu"))
            )
            scored = remaining.join(
                redundancy,
                (remaining.query_id == redundancy.query_id)
                & (remaining.match_id == redundancy.id_a),
            ).select(
                remaining.query_id,
                remaining.match_id,
                remaining.sim,
                remaining.simu,
                redundancy.max_psimu,
            ).withColumn(
                "score10",
                (
                    F.lit(lam_num) * F.col("simu")
                    - F.lit(mu) * F.col("max_psimu")
                ).cast("bigint"),
            )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "match_id",
                F.lit(rnd).cast("int").alias("sel_round"),
                "sim",
                F.col("score10").alias("mmr_score10"),
            )
        )
        out = pick if out is None else out.unionByName(pick)
        new_sel = pick.select("query_id", F.col("match_id").alias("sel_id"))
        selected = (
            new_sel if selected is None else selected.unionByName(new_sel)
        )
    return out


def sq8_codebook(pts: DataFrame, vec_micro_col: str = "vm") -> list[tuple[int, int]]:
    """Per-dimension (min, max) over a micro-unit integer vector column —
    the SQ8 scalar-quantization codebook. One posexplode + a dim-keyed
    min/max agg (map-side partials move dim rows per task, independent of
    corpus size), then a dim-sized collect — the same driver-state shape
    as the k-means centroid loop (``clustering.py::kmeans_fit``): O(dim)
    integers on the driver, embedded downstream as literals (a broadcast
    by construction, no join)."""
    rows = (
        pts.select(F.posexplode(F.col(vec_micro_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    book = {r["pos"]: (int(r["lo"]), int(r["hi"])) for r in rows}
    return [book[i] for i in range(len(book))]


def sq8_quantize_recall(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_mod: int = 50,
) -> DataFrame:
    """Recall@k of SQ8 scalar-quantized dot-product search vs the exact
    kernel — the QA harness for the memory side of 100 TB ANN: int8
    codes are 4x smaller than f32 (the difference between an index that
    fits executor memory and one that spills), and this query measures
    what that compression costs on the actual corpus, per query.

    SQ8 (the FAISS ScalarQuantizer recipe): per-dim [lo, hi] codebook,
    code c_j = ((x_j - lo_j) * 255) div rng_j in 0..255 with
    rng_j = max(hi_j - lo_j, 1), decode x~_j = lo_j + (c_j * rng_j)
    div 255. Every operand is a NON-NEGATIVE exact int64 micro-unit, so
    the ``floor(a / b)`` double-divide used here IS integer floor
    division (numerators < 2^31, denominators >= 1: an exact-rational
    quotient is never within 1 ulp of a crossing), matching the DuckDB
    twin's BIGINT ``//`` bit-for-bit; both top-k sets break dot-product
    ties to the smaller id.

    Shape: codebook = one dim-keyed agg + O(dim) driver literals; the
    truth and SQ searches are each a broadcast(queries) x corpus scan
    with a per-query windowed top-k — ``cosine_topk``'s plan run twice —
    then a left join on (query, id) counts the overlap. No all-pairs, no
    Python rows.

    Returns (query_id, n_truth, n_hit, recall) with recall on the 1e-6
    grid.
    """
    pts = df.select(
        F.col(id_col).alias("pid"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * 1000000.0 + F.lit(0.5)).cast("bigint"),
        ).alias("vm"),
    )
    pts = spread(pts).localCheckpoint()
    book = sq8_codebook(pts, "vm")
    lo_arr = bigint_array([l for l, _ in book])
    rng_arr = bigint_array([max(h - l, 1) for l, h in book])
    fdiv = lambda a, b: F.floor(a / b).cast("bigint")  # noqa: E731 — see law note
    code = F.zip_with(
        F.zip_with(F.col("vm"), lo_arr, lambda x, l: x - l),
        rng_arr,
        lambda d, r: fdiv(d * F.lit(255), r),
    )
    deq = F.zip_with(
        F.zip_with(code, rng_arr, lambda c, r: c * r),
        lo_arr,
        lambda cr, l: l + fdiv(cr, F.lit(255)),
    )
    sq = pts.select("pid", deq.alias("vq"))

    def topk(base: DataFrame, vcol: str, out: str) -> DataFrame:
        qs = base.filter((F.col("pid") % query_mod) == 0).select(
            F.col("pid").alias("query_id"), F.col(vcol).alias("qv")
        )
        dotc = F.aggregate(
            F.zip_with(F.col("qv"), F.col(vcol), lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        scored = (
            F.broadcast(qs)
            .join(base, F.col("query_id") != F.col("pid"))
            .select("query_id", "pid", dotc.alias("d"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("d"), F.asc("pid"))
        return (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k)
            .select(F.col("query_id").alias(out + "_q"), F.col("pid").alias(out))
        )

    truth = topk(pts, "vm", "t_id")
    approx = topk(sq, "vq", "a_id")
    joined = truth.join(
        approx,
        (F.col("t_id_q") == F.col("a_id_q")) & (F.col("t_id") == F.col("a_id")),
        "left",
    )
    out = joined.groupBy(F.col("t_id_q").alias("query_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count("a_id").cast("bigint").alias("n_hit"),
    )
    return out.select(
        "query_id",
        "n_truth",
        "n_hit",
        (
            F.floor(F.col("n_hit") * 1000000.0 / F.col("n_truth") + 0.5) / 1000000.0
        ).alias("recall"),
    )


def pq_recall(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    k: int = 10,
    query_mod: int = 50,
    dim: int = 64,
) -> DataFrame:
    """Recall@k of PRODUCT-quantized asymmetric-distance search vs the
    exact kernel (Jégou et al. 2011, the FAISS `IVFPQ` building block) —
    the vector-compression capstone next to ``sq8_quantize_recall``: SQ8
    keeps one byte PER DIMENSION (4x), PQ keeps one code per SUBSPACE
    (here 64 dims → 4 bytes, 64x), which is what actually fits a
    trillion-vector index in executor memory; this query measures what
    that costs on the real corpus.

    Train: the vector splits into ``m`` contiguous subspaces; each gets
    its own ``ksub``-centroid k-means (`clustering.kmeans_fit` — the
    already-certified deterministic fit: smallest-id init, exact
    integer re-centering, (d2, cid) argmin). Encode: per subspace, the
    centroid id (one byte for ksub <= 256). Search (ADC): approx
    dist(q, x) = Σ_j d2_r6(q_slice_j, centroid_j[code_j(x)]) — the query
    stays full-precision, only the corpus is compressed; per-subspace
    distances use the SAME round-6 law as ``assign_clusters`` and the
    subspace sum runs in fixed j order, so both engines agree exactly.
    Truth: exact int64 micro-unit squared L2 (as in ``kcenter_greedy``).
    Both top-k sets break ties to the smaller id.

    Scale shape: the m kmeans fits train over dim/m-wide slices of the
    SAME checkpointed vector table, so the Lloyd loop is FUSED across
    subspaces (optimization r14, guide §1.2 — fewer passes): each
    iteration is ONE projection computing all m assignments (the per-
    subspace :func:`clustering.cluster_assignment` argmin over a slice)
    and ONE (subspace, cluster, dim)-keyed exact-integer re-center
    aggregate (m·ksub·sub ≈ 1k rows collected, same O(m·ksub·dim) driver
    state), instead of m independent fits each paying its own checkpoint,
    seed collect and per-iteration pass — 3 actions total vs ~4m+1.
    Arithmetic is bit-identical to :func:`clustering.kmeans_fit`: same
    smallest-id init, same rounded-distance argmin, same int64 micro-unit
    re-centering law, empty clusters keep their previous centroid.
    Encoding is then one m-column projection (no id joins); ADC is a
    broadcast(queries) x codes scan with m broadcast-sized centroid-table
    joins (ksub rows each) and a windowed top-k. The oracle re-trains all
    m codebooks from scratch in one statement (prefixed unrolled-kmeans
    CTE chains), so codebook, codes, ADC ranking and recall are ALL
    differentially pinned.

    Returns (query_id, n_truth, n_hit, recall).
    """
    import math

    from .clustering import cluster_assignment

    r6 = lambda x: math.floor(x * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    sub = dim // m
    pts = df.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    pts = spread(pts).localCheckpoint()

    spark = df.sparkSession
    seed_rows = pts.orderBy("pid").limit(ksub).collect()
    cents: list[list[list[float]]] = [
        [[r6(float(x)) for x in r["v"][j * sub : (j + 1) * sub]] for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(iters):
        assigned = pts.select(
            "v",
            *[
                cluster_assignment(F.slice(F.col("v"), j * sub + 1, sub), cents[j])[
                    "c"
                ].alias(f"c{j}")
                for j in range(m)
            ],
        )
        stats = (
            assigned.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                F.col(f"c{j}").alias("c"),
                                F.slice(F.col("v"), j * sub + 1, sub).alias("s"),
                            )
                            for j in range(m)
                        ]
                    )
                ).alias("e")
            )
            .select("e.j", "e.c", F.posexplode("e.s").alias("pos", "val"))
            .groupBy("j", "c", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("val") * 1000000.0 + 0.5).cast("bigint")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new: list[dict[int, list[float]]] = [{} for _ in range(m)]
        for r in stats:
            new[r["j"]].setdefault(r["c"], [0.0] * sub)[r["pos"]] = (
                math.floor(r["s"] / r["n"] + 0.5) / 1000000.0
            )
        cents = [
            [new[j].get(c, cents[j][c]) for c in range(ksub)] for j in range(m)
        ]

    codes = pts.select(
        "pid",
        *[
            cluster_assignment(F.slice(F.col("v"), j * sub + 1, sub), cents[j])[
                "c"
            ].alias(f"c{j}")
            for j in range(m)
        ],
    )
    cent_dfs = [
        spark.createDataFrame(
            [(cid, vec) for cid, vec in enumerate(cents[j])],
            f"c{j} int, cent{j} array<double>",
        )
        for j in range(m)
    ]

    qs = pts.filter((F.col("pid") % query_mod) == 0).select(
        F.col("pid").alias("query_id"), F.col("v").alias("qv")
    )
    adc = F.broadcast(qs).join(codes, F.col("query_id") != F.col("pid"))
    for j in range(m):
        adc = adc.join(F.broadcast(cent_dfs[j]), f"c{j}")
    d = None
    for j in range(m):
        dj = F.round(
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("qv"), j * sub + 1, sub),
                    F.col(f"cent{j}"),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        d = dj if d is None else d + dj
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("pid"))
    approx = (
        adc.select("query_id", "pid", d.alias("d"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(F.col("query_id").alias("a_q"), F.col("pid").alias("a_id"))
    )

    vm = pts.select(
        "pid",
        F.transform(
            F.col("v"), lambda x: F.floor(x * 1000000.0 + F.lit(0.5)).cast("bigint")
        ).alias("vm"),
    )
    qm = vm.filter((F.col("pid") % query_mod) == 0).select(
        F.col("pid").alias("query_id"), F.col("vm").alias("qm")
    )
    td = F.aggregate(
        F.zip_with(F.col("qm"), F.col("vm"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    wt = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("pid"))
    truth = (
        F.broadcast(qm)
        .join(vm, F.col("query_id") != F.col("pid"))
        .select("query_id", "pid", td.alias("d"))
        .withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= k)
        .select(F.col("query_id").alias("t_q"), F.col("pid").alias("t_id"))
    )
    joined = truth.join(
        approx,
        (F.col("t_q") == F.col("a_q")) & (F.col("t_id") == F.col("a_id")),
        "left",
    )
    out = joined.groupBy(F.col("t_q").alias("query_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.count("a_id").cast("bigint").alias("n_hit"),
    )
    return out.select(
        "query_id",
        "n_truth",
        "n_hit",
        (
            F.floor(F.col("n_hit") * 1000000.0 / F.col("n_truth") + 0.5) / 1000000.0
        ).alias("recall"),
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sim: float = 0.9,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for embedding/reranker training: per query,
    the top-k most similar corpus vectors that are NOT near-duplicates
    (cosine < ``max_sim``) — the pairs that teach a model the decision
    boundary (an easy random negative is nearly information-free; a
    near-duplicate "negative" is label noise). Same exact-cosine idiom as
    ``cosine_topk`` (6-dp round BEFORE both the threshold test and the
    ranking, ties to match_id asc), so the exclusion boundary and ranks
    are cross-engine exact.

    Scale shape: identical to cosine_topk (broadcast query block x
    corpus scan); at production scale the corpus side is the IVF/LSH
    candidate set rather than the full table — the threshold filter and
    ranking are unchanged.
    """
    q = _normed(queries, "query_id", id_col, vec_col, "qv")
    c = _normed(spread(corpus), "match_id", id_col, vec_col, "cv")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(dot(F.col("qv"), F.col("cv")), 6).alias("sim"),
        )
        .filter(F.col("sim") < F.lit(max_sim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_postings_roll(
    postings: DataFrame,
    inserts: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    validate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Maintained-state roll of a PERSISTED IVF postings table — the ANN
    analog of ``dedup.snapshot_band_roll`` and ``chunking.
    chunk_store_roll``: at 100 TB an ANN index is maintained state by
    definition, yet ``ivf_ann_topk`` re-assigns the whole corpus to
    coarse cells on every call (fine for a one-shot query, wrong as a
    serving contract). Here the (id, cell) assignment PERSISTS (e.g. as
    cell-partitioned parquet); a roll assigns cells for the DELTA only
    and maintains the index by set algebra — P' = (P ∖ deletes) ∪
    assign(inserts) — exactly the band-table move, applicable because
    IVF assignment under FROZEN centroids is per-row derived state.
    (Re-training centroids is a rebuild, not a roll — same as re-picking
    LSH band parameters.)

    Inputs: ``postings`` — the persisted (id, cell) table; ``inserts`` —
    (id, vector) rows entering the corpus; ``delete_ids`` — one id
    column leaving it. Returns ``(new_postings, audit)``:

    * ``new_postings`` — (id, cell), identical to assigning snapshot2
      from scratch (law-tested); write it cell-partitioned so serving
      probes prune partitions;
    * ``audit`` — one row per cell: ``n_before``, ``n_added``,
      ``n_removed``, ``n_after`` (exact bigints, ordered by cell; cells
      present on either side appear). The roll-time balance check:
      a cell whose n_after drifts far above the mean is the IVF analog
      of a hot LSH bucket (every probe of that cell scans its postings),
      flagged here before serving pays it.

    Scale shape: cell assignment (the only vector math) touches inserts
    only; the maintained table is one anti-join + union, all keyed by
    id; the audit is two (cell)-keyed counts with map-side combine full-
    outer-joined on cell. Nothing is corpus-bounded except the pruned
    scan of the postings table itself — unavoidable, since P' must be
    written.
    """
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim)
    did = delete_ids.columns[0]
    dels = delete_ids.select(F.col(did).alias(id_col)).distinct()
    if validate:
        # same SCD delta contract as the band/chunk rolls; unlike the
        # band table (whose sub-n_shingle docs carry no rows — the
        # ADVICE-r13 guard gap), IVF assignment is TOTAL, so the
        # postings id column IS the corpus membership set and this
        # probe is complete without an external base_ids.
        _assert_disjoint_delta(
            postings.select(id_col), inserts.select(id_col), dels, id_col
        )

    ins = _ivf_assign(inserts, id_col, vec_col, id_col, None, cents, 1)
    surv = postings.join(dels, id_col, "left_anti")
    new_postings = surv.unionByName(ins)

    before = postings.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    added = ins.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_added")
    )
    removed = (
        postings.join(dels, id_col, "semi")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_removed"))
    )
    audit = (
        before.join(added, "cell", "full_outer")
        .join(removed, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_added", F.lit(0)).cast("bigint").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        )
        .withColumn(
            "n_after",
            (F.col("n_before") + F.col("n_added") - F.col("n_removed")).cast(
                "bigint"
            ),
        )
        .orderBy("cell")
    )
    return new_postings, audit


def ivf_serve_from_postings(
    queries: DataFrame,
    corpus: DataFrame,
    postings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    k: int = 10,
    probes: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Serve IVF top-k FROM a maintained postings table instead of
    re-assigning the corpus per query — the read side of
    :func:`ivf_postings_roll`'s contract. The corpus-side cell column
    comes from the persisted index (a cell-keyed join / partition-pruned
    read), so per-query work is: assign the QUERY to its ``probes``
    nearest cells, pull only those cells' postings, point-join their
    vectors from the corpus store by id, and score them in the fused
    kernel ``_ivf_topk``, which reads each row's cell from the postings.

    Law-tested identity: on a postings table consistent with the corpus
    (e.g. the output of a roll), this equals ``ivf_ann_topk`` recomputed
    from scratch with the same centroids. Returns (query_id, match_id,
    sim, rank) with rank ≤ k per query.
    """
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim)
    probes = max(probes, 1)
    probed = _ivf_assign(queries, id_col, vec_col, id_col, None, cents, probes)
    cand = postings.join(
        F.broadcast(probed.select("cell").distinct()), "cell"
    )  # partition-pruned read when postings is cell-partitioned parquet
    # attach the postings' cell to the RAW corpus row first, so the kernel
    # normalizes only the probed cells' rows (optimization r14, guide
    # §2.3/§8): under partition pruning the candidate set is the small side
    # by design
    c = spread(corpus).join(cand.select(F.col(id_col), "cell"), id_col)
    return _ivf_topk(queries, c, id_col, vec_col, cents, k, probes, cell_col="cell")
