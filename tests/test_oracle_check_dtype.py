"""The mimic must catch the DuckDB HUGEINT→float64 class locally.

r1's sessionize and r2's props_extract both failed the driver's value hash
because DuckDB ``sum(BIGINT)`` materializes HUGEINT → float64 in pandas while
Spark emits int64; the mimic's canon_cell normalized both to the same number
and hid it.  ``dtype_kind_mismatches`` is the guard — pin that it fires on
an injected uncast sum(int) and stays silent once the oracle CASTs.
"""

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from oracle_check import dtype_kind_mismatches  # noqa: E402


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1), (2), (3)) v(k)")
    return con.execute(sql).df()


SPARK_LIKE = pd.DataFrame({"sum_k": pd.Series([6], dtype="int64")})


def test_uncast_int_sum_flagged():
    odf = _oracle("SELECT sum(k) AS sum_k FROM t")  # HUGEINT → float64
    assert odf["sum_k"].dtype.kind == "f", "precondition: DuckDB drifts to float"
    bad = dtype_kind_mismatches(SPARK_LIKE, odf)
    assert bad and "sum_k" in bad[0]


def test_cast_int_sum_clean():
    odf = _oracle("SELECT CAST(sum(k) AS BIGINT) AS sum_k FROM t")
    assert dtype_kind_mismatches(SPARK_LIKE, odf) == []


def test_float_vs_float_not_flagged():
    sdf = pd.DataFrame({"v": pd.Series([1.5], dtype="float64")})
    odf = pd.DataFrame({"v": pd.Series([1.5], dtype="float32")})
    assert dtype_kind_mismatches(sdf, odf) == []
