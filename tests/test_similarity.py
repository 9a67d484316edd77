"""Similarity search: brute-force correctness, LSH-ANN recall sanity, and
the IVF kernel's loud failure on malformed vectors."""

import math

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from ingestion_scripts_spark.operators import similarity as S


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
