"""Similarity search: brute-force correctness, LSH-ANN recall sanity, and
the IVF kernel's loud failure on malformed vectors."""

import math

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from ingestion_scripts_spark.operators import similarity as S
from ingestion_scripts_spark.sources import readers


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_cosine_topk_exact(spark):
    emb = _vecs(spark)
    out = S.cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=2).collect()
    assert [(r.match_id, r.rank) for r in out] == [(1, 1), (4, 2)]
    expect = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(out[0].sim - round(expect, 6)) < 1e-6


def test_split_estimate_lists_what_spark_reads(spark, tmp_path):
    """The spread gate's split estimate counts the data files Spark reads:
    a ``partitionBy`` table's files under its ``k=v/`` directories (16 of
    them estimate at least 16 splits, so the gate adds no exchange), and not
    the ``_SUCCESS`` marker beside a one-part Spark-written directory."""
    parted = str(tmp_path / "parted")
    spark.range(64).withColumn("k", F.col("id") % 16).write.partitionBy("k").parquet(parted)
    assert readers.estimated_file_splits(spark, [parted], stop_at=1000) >= 16
    one = str(tmp_path / "one")
    spark.range(10).coalesce(1).write.parquet(one)
    assert (tmp_path / "one" / "_SUCCESS").exists()
    assert readers.estimated_file_splits(spark, [one], stop_at=1000) == 1


def test_lsh_ann_subset_of_exact_ranking(spark):
    emb = _vecs(spark)
    exact = {
        (r.query_id, r.match_id)
        for r in S.cosine_topk(emb, emb, k=4).collect()
    }
    ann = S.lsh_ann_topk(emb, emb, dim=4, num_planes=2, k=4).collect()
    # every ANN result must be a true pair with correctly computed sim
    assert {(r.query_id, r.match_id) for r in ann} <= exact


def test_hyperplanes_deterministic():
    assert S.hyperplanes(2, 4) == S.hyperplanes(2, 4)
    assert all(-1.0 <= v <= 1.0 for row in S.hyperplanes(3, 8) for v in row)


def test_pandas_cosine_pairs_match_fold_operator(spark):
    """The numpy applyInPandas kernel must produce the same pairs (and
    round-6 sims) as the expression-fold operator on real testdata."""
    from ingestion_scripts_spark.operators.similarity import (
        blocked_cosine_pairs,
        blocked_cosine_pairs_pandas,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in blocked_cosine_pairs(emb, "label", threshold=0.3).collect()
    }
    fast = {
        (r.id_a, r.id_b): r.cos
        for r in blocked_cosine_pairs_pandas(emb, "label", threshold=0.3).collect()
    }
    assert set(exact) == set(fast)
    for k in exact:
        assert abs(exact[k] - fast[k]) < 1e-9, (k, exact[k], fast[k])


# ------------------------------------------------- malformed IVF input vectors

_MAL_DIM, _MAL_CELLS = 4, 4
_GOOD = [
    (i, [float((i * 7 + d * 3) % 11) - 5.0 + 0.25 * d for d in range(_MAL_DIM)])
    for i in range(1, 25)
]
#: the four malformed shapes -> (vector, the message fragment it must
#: raise with); a zero norm has no unit vector
_BAD = {
    "null vector": (None, "null vector"),
    "null element": ([1.0, None, 0.5, 0.25], "null element"),
    "wrong length": ([1.0, 0.5, 0.25], "length 3 != dim 4"),
    "zero norm": ([0.0] * _MAL_DIM, "zero norm"),
}


def _raises_malformed(fragment, collect):
    with pytest.raises(PythonException) as err:
        collect()
    msg = str(err.value)
    assert "MalformedVectorError" in msg and "vec_id=99" in msg, msg[:2000]
    assert fragment in msg, msg[:2000]


@pytest.mark.parametrize("reason", sorted(_BAD))
def test_ivf_malformed_vectors_fail_loudly(spark, reason):
    """A malformed vector raises one named error naming its id and reason:
    on the query and the corpus side, for one and two probes, whatever
    ``spark.sql.ansi.enabled`` says, and in the roll and in serving.
    Before the Arrow assignment kernel, a malformed query with probes=2
    returned k rows with NULL sims; with probes=1, or on the corpus side,
    the row vanished; a zero norm raised DIVIDE_BY_ZERO only under ANSI."""
    vec, fragment = _BAD[reason]
    df = spark.createDataFrame(_GOOD + [(99, vec)], "vec_id long, embedding array<double>")
    bad_q, good = df.filter(F.col("vec_id") == 99), df.filter(F.col("vec_id") != 99)
    for ansi in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            for probes in (1, 2):
                for queries in (bad_q, good):
                    _raises_malformed(fragment, lambda: S.ivf_ann_topk(
                        queries, df, dim=_MAL_DIM, n_cells=_MAL_CELLS, k=3, probes=probes,
                    ).collect())
        finally:
            spark.conf.unset("spark.sql.ansi.enabled")

    no_del = spark.createDataFrame([], "vec_id long")
    post = spark.createDataFrame([], "vec_id long, cell int")
    post, _ = S.ivf_postings_roll(
        post, good, no_del, dim=_MAL_DIM, n_cells=_MAL_CELLS, validate=False
    )
    post = spark.createDataFrame(post.collect(), "vec_id long, cell int")
    _raises_malformed(fragment, lambda: S.ivf_postings_roll(
        post, bad_q, no_del, dim=_MAL_DIM, n_cells=_MAL_CELLS, validate=False,
    )[0].collect())
    # serving normalizes only the corpus rows in probed cells: the bad row
    # sits in cell 0, which the good queries probe
    with_bad = post.unionByName(spark.createDataFrame([(99, 0)], "vec_id long, cell int"))
    for probes in (1, 2):
        _raises_malformed(fragment, lambda: S.ivf_serve_from_postings(
            bad_q, good, post, dim=_MAL_DIM, n_cells=_MAL_CELLS, probes=probes,
        ).collect())
        _raises_malformed(fragment, lambda: S.ivf_serve_from_postings(
            good, df, with_bad, dim=_MAL_DIM, n_cells=_MAL_CELLS, probes=probes,
        ).collect())


# ------------------------------------- fused IVF kernel vs the HOF composition

_LAW_DIM, _LAW_CELLS, _LAW_K = 4, 4, 3
_LAW_CENTS = S.ivf_centroids(_LAW_CELLS, _LAW_DIM)
_LAW_SCHEMA = "vec_id long, embedding array<double>"
#: the rounding-tie query and its direction
_TIE_Q, _TIE_U = 910, [-0.5, -0.5, 0.5, 0.5]


def _on_cone(cos):
    """A vector at cosine ``cos`` to ``_TIE_U`` (unit), in its plane with
    an orthogonal unit vector."""
    w = [0.5, -0.5, 0.5, -0.5]
    sin = math.sqrt(1.0 - cos * cos)
    return [cos * u + sin * x for u, x in zip(_TIE_U, w)]


def _law_corpus():
    """Clusters around centroids 0-2 only (cell 3 stays empty); five exact
    copies of one vector under ids 100-104, so k cuts inside an exact tie
    group; a two-row cluster, so a query has fewer than k candidates; and
    the rounding tie: id 300 at cosine 0.9990001 to ``_TIE_U`` and ids
    301-339 at 0.9990004. All round to 0.999, so ``_TIE_Q``'s top 3 is
    300-302, although 300 scores below the rest before rounding."""
    rows, vid = [], 0
    for c, n in ((0, 24), (1, 16), (2, 2)):
        for i in range(n):
            vid += 1
            rows.append((vid, [x + 0.01 * ((i * 7 + d * 3) % 5 - 2)
                               for d, x in enumerate(_LAW_CENTS[c])]))
    rows += [(100 + j, [x + 0.003 for x in _LAW_CENTS[0]]) for j in range(5)]
    rows += [(300, _on_cone(0.9990001))]
    rows += [(301 + j, _on_cone(0.9990004)) for j in range(39)]
    return rows


def _hof_ivf_topk(queries, corpus, k, probes):
    """The IVF read path the kernel replaced, restated as the reference:
    both sides assigned by ``_ivf_assign``, broadcast pair join on cell,
    the HOF ``dot``, 6-dp round, row_number (sim desc, match_id asc)."""
    from pyspark.sql import Window

    q = S._ivf_assign(queries, "vec_id", "embedding", "query_id", "qv", _LAW_CENTS, probes)
    c = S._ivf_assign(corpus, "vec_id", "embedding", "match_id", "cv", _LAW_CENTS, 1)
    scored = (
        F.broadcast(q).join(c, "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id",
                F.round(S.dot(F.col("qv"), F.col("cv")), 6).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ranked(df):
    """(query_id, match_id, sim, rank) rows, sorted; a NaN sim reads "nan"
    so equal rows compare equal ((query_id, match_id) is unique, so the
    sort never compares a sim)."""
    return sorted((q, m, "nan" if s != s else s, r)
                  for q, m, s, r in df.select("query_id", "match_id", "sim", "rank").collect())


@pytest.fixture(scope="module")
def law_frames(spark):
    corpus = spark.createDataFrame(_law_corpus(), _LAW_SCHEMA)
    # every third corpus row queries (self matches), plus the rounding-tie
    # query and one on the empty cell's centroid
    extra = spark.createDataFrame([(_TIE_Q, _TIE_U), (920, list(_LAW_CENTS[3]))], _LAW_SCHEMA)
    return corpus, corpus.filter(F.col("vec_id") % 3 == 0).unionByName(extra)


def test_ivf_kernel_law_data_covers_its_cases(spark, law_frames):
    """The law data holds the cases the kernel law claims to cover."""
    corpus, queries = law_frames

    def cells(df):
        return {r.cell for r in S._ivf_assign(df, "vec_id", "embedding", "vec_id", None,
                                               _LAW_CENTS, 1).collect()}

    assert cells(queries) - cells(corpus), "no probed cell without corpus rows"
    assert readers.spread(corpus).rdd.getNumPartitions() > 1
    by_q = {}
    for q, m, sim, rank in sorted(_ranked(_hof_ivf_topk(queries, corpus, 50, 1)),
                                  key=lambda r: (r[0], r[3])):
        by_q.setdefault(q, []).append((sim, m))
    assert any(0 < len(r) < _LAW_K for r in by_q.values()), "no query with fewer than k"
    assert [m for _, m in by_q[_TIE_Q][:_LAW_K]] == [300, 301, 302]
    assert by_q[3][_LAW_K - 1][0] == by_q[3][_LAW_K][0], "k cuts no exact tie group"
    assert {q for q in by_q} & {r.vec_id for r in corpus.collect()}, "no self-match case"


@pytest.mark.parametrize("probes,batch", [(1, 5), (2, 5), (_LAW_CELLS, 5), (1, 10000)])
def test_ivf_kernel_equals_hof_composition(spark, law_frames, probes, batch):
    """Law: ``ivf_ann_topk`` (the fused Arrow kernel) returns exactly the
    rows of the broadcast-join + HOF-dot + window composition (same
    matches, 6-dp sims and ranks): k cutting inside exact and
    rounding-level tie groups, fewer candidates than k, self matches,
    probed cells with no corpus rows, probes 1, 2 and all cells, and the
    corpus spread over partitions of several Arrow batches each (the
    query block rides on each partition's first row only). An empty
    query set returns no rows."""
    corpus, queries = law_frames
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        def kernel(qs):
            return _ranked(S.ivf_ann_topk(qs, corpus, dim=_LAW_DIM, n_cells=_LAW_CELLS,
                                          k=_LAW_K, probes=probes))

        want = _ranked(_hof_ivf_topk(queries, corpus, _LAW_K, probes))
        assert want and kernel(queries) == want
        empty = queries.limit(0)
        assert kernel(empty) == _ranked(_hof_ivf_topk(empty, corpus, _LAW_K, probes)) == []
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_ivf_kernel_keeps_nan_sims(spark, law_frames):
    """A vector with an infinite element passes validation (its norm is
    not zero) but scores NaN, which Spark ranks above every number. The
    kernel's top-k cut must pass NaN sims on, as the HOF composition
    ranks them."""
    corpus, queries = law_frames
    inf = spark.createDataFrame([(400, [math.inf, 0.1, 0.2, 0.3])], _LAW_SCHEMA)
    corpus = corpus.unionByName(inf)
    want = _ranked(_hof_ivf_topk(queries, corpus, _LAW_K, 1))
    assert any(s == "nan" for _, _, s, _ in want)
    assert _ranked(S.ivf_ann_topk(queries, corpus, dim=_LAW_DIM, n_cells=_LAW_CELLS,
                                  k=_LAW_K, probes=1)) == want
