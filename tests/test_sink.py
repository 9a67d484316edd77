"""K2/K3/K4 sink semantics: keyed idempotence across batches, dead-letter
split with observe counters."""

from pyspark.sql import functions as F

from ingestion_scripts_spark.operators import sink as SK


def test_idempotent_append(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    SK.idempotent_append(b1, path, ["k"])
    # duplicate within batch deduped; replay of 'a'/'b' + new 'c'
    b2 = spark.createDataFrame([("a", 9), ("c", 4)], "k string, v int")
    SK.idempotent_append(b2, path, ["k"])
    got = spark.read.parquet(path)
    assert got.count() == 3
    assert {r.k for r in got.select("k").collect()} == {"a", "b", "c"}
    assert "insert_date" in got.columns


def test_idempotent_append_uri_path(spark, tmp_path):
    """A sink named by a ``file:`` URI still sees its existing keys. The
    check was ``os.path.exists``, False for every URI, so the second
    append skipped the anti-join and key 2 landed twice."""
    path = (tmp_path / "sink").as_uri()
    assert path.startswith("file:")
    SK.idempotent_append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
                         path, ["k"])
    SK.idempotent_append(spark.createDataFrame([(2, "x"), (3, "c")], "k int, v string"),
                         path, ["k"])
    got = sorted(tuple(r) for r in spark.read.parquet(path).select("k", "v").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_dead_letter_split(spark):
    df = spark.createDataFrame([(1, "ok"), (2, None), (3, "ok")], "id int, s string")
    good, dead = SK.dead_letter_split(df, F.col("s").isNotNull(), observe_name="obs")
    assert good.count() == 2
    assert {r.id for r in dead.collect()} == {2}


def test_scd2_apply_two_batches(spark):
    from ingestion_scripts_spark.operators.sink import scd2_apply

    cur = spark.createDataFrame(
        [(1, 10.0, "A", 1, "2024-01-01", None), (2, 20.0, "B", 1, "2024-01-01", None)],
        "k: long, bal: double, seg: string, version: long, valid_from: string, valid_to: string",
    )
    upd1 = spark.createDataFrame([(1, 15.0, "A"), (2, 20.0, "B")], "k: long, bal: double, seg: string")
    v2 = scd2_apply(cur, upd1, "k", ["bal", "seg"], "2024-02-01")
    rows = {(r["k"], r["version"]): r for r in v2.collect()}
    assert rows[(1, 1)]["valid_to"] == "2024-02-01"      # closed
    assert rows[(1, 2)]["bal"] == 15.0 and rows[(1, 2)]["valid_to"] is None
    assert rows[(2, 1)]["valid_to"] is None              # untouched
    assert (2, 2) not in rows

    # second batch on the merged result: change key 2, key 1 stable
    upd2 = spark.createDataFrame([(1, 15.0, "A"), (2, 99.0, "B")], "k: long, bal: double, seg: string")
    v3 = scd2_apply(v2, upd2, "k", ["bal", "seg"], "2024-03-01")
    rows = {(r["k"], r["version"]): r for r in v3.collect()}
    assert len(rows) == 4
    assert rows[(1, 1)]["valid_to"] == "2024-02-01"      # history preserved
    assert rows[(1, 2)]["valid_to"] is None              # still open
    assert rows[(2, 1)]["valid_to"] == "2024-03-01"
    assert rows[(2, 2)]["bal"] == 99.0 and rows[(2, 2)]["valid_from"] == "2024-03-01"
