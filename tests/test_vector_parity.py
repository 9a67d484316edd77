"""Cross-engine parity for the vector bucketing primitives: random float
vectors through Spark lsh_bucket / the IVF assignment kernel must equal
the DuckDB twins bit-for-bit (both sides are sequential folds over
identical literals)."""

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.operators import similarity as SIM

DIM = 8
VEC = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False, width=64),
    min_size=DIM, max_size=DIM,
)
PLANES = SIM.hyperplanes(4, DIM)
CENTS = SIM.ivf_centroids(4, DIM)


def _sq_norm(v):
    acc = 0.0
    for x in v:  # the kernel's left fold; zero norm is a loud error there
        acc = acc + x * x
    return acc


@settings(max_examples=8, deadline=None)
@given(vecs=st.lists(VEC, min_size=1, max_size=20))
def test_bucket_and_cell_parity(spark, vecs):
    """LSH bucket on the raw vector (zero vectors included: the boundary
    of its ``dot > 0`` sign bit), and, for non-zero-norm vectors, the IVF
    kernel's unit vector, nearest cell and full probe order, against
    DuckDB's normalization + ``sql_ivf_cell`` / ``sql_ivf_probe_cells``."""
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vid int, v array<double>"
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"vid": range(len(vecs)), "v": vecs}))

    buckets = dict(
        sdf.select("vid", SIM.lsh_bucket(F.col("v"), PLANES).alias("b")).collect()
    )
    assert buckets == dict(
        con.execute(f"SELECT vid, {O.sql_lsh_bucket('v', PLANES)} FROM t").fetchall()
    )

    ids = [i for i, v in enumerate(vecs) if _sq_norm(v) > 0]
    if not ids:
        return
    got = {}
    ivf_in = sdf.where(F.col("vid").isin(ids))
    for r in SIM._ivf_assign(ivf_in, "vid", "v", "vid", "u", CENTS, len(CENTS)).collect():
        u, probe = got.setdefault(r.vid, (r.u, []))
        assert r.u == u
        probe.append(r.cell)  # rows arrive nearest cell first
    got = {vid: (u, probe[0], probe) for vid, (u, probe) in got.items()}

    nrm = "sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])))"
    expect = {
        vid: (u, c, p)
        for vid, u, c, p in con.execute(
            f"SELECT vid, u, {O.sql_ivf_cell('u', CENTS)}, "
            f"{O.sql_ivf_probe_cells('u', CENTS, len(CENTS))} FROM ("
            f"SELECT vid, list_transform(v, x -> x / {nrm}) AS u FROM t "
            f"WHERE vid IN ({', '.join(map(str, ids))}))"
        ).fetchall()
    }
    assert got == expect
