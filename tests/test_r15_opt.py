"""Round-15 optimization internals: scale-adaptive streaming state
partitions (streaming/streams.py) and the two-rounds-per-checkpoint
star-CC convergence window (operators/dedup.py).

The behavioral guarantees (oracle equality of every streaming query,
star-CC == union-find truth on adversarial graphs) are pinned elsewhere
(tools/oracle_check.py sweeps, tests/test_cc_star.py); these tests pin
the new INTERNAL laws the optimizations introduced:

* stream_state_partitions derives the count from bytes and only ever
  adapts DOWN from the session's configured shuffle partitions (a
  non-local source, which it cannot size, gets the cap);
* scoped_shuffle_partitions restores the session conf even on error;
* connected_components_star still converges exactly at the documented
  diameter-halving budget (the windowed check needs its +2 detection
  slack — a fixpoint reached at round R is only *seen* at the next
  window boundary, and the confirmation round must not consume budget).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.streaming.streams import (
    STREAM_PARTITION_TARGET_BYTES,
    scoped_shuffle_partitions,
    stream_state_partitions,
)


def test_stream_state_partitions_floor_and_cap(spark, tmp_path):
    # tiny input -> floor of 1, never 0
    p = tmp_path / "tiny"
    p.mkdir()
    (p / "a.parquet").write_bytes(b"x" * 1024)
    assert stream_state_partitions(spark, str(p)) == 1

    # bytes/target rounds UP and is capped at the session conf
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big = tmp_path / "big"
    big.mkdir()
    # 2.5 targets worth of bytes -> ceil = 3 (or the cap if smaller)
    n = int(2.5 * STREAM_PARTITION_TARGET_BYTES)
    with open(big / "b.parquet", "wb") as fh:
        fh.truncate(n)
    assert stream_state_partitions(spark, str(big)) == min(3, cap)

    # hidden/metadata files are excluded from the byte count
    (big / "_SUCCESS").write_bytes(b"y" * (64 << 20))
    (big / ".b.parquet.crc").write_bytes(b"y" * (64 << 20))
    assert stream_state_partitions(spark, str(big)) == min(3, cap)

    # the helper only adapts DOWN: bytes >> cap x target stays at cap
    huge = tmp_path / "huge"
    huge.mkdir()
    with open(huge / "c.parquet", "wb") as fh:
        fh.truncate((cap + 5) * STREAM_PARTITION_TARGET_BYTES)
    assert stream_state_partitions(spark, str(huge)) == cap


def test_stream_state_partitions_non_local_sizes_to_cap(spark, tmp_path):
    """A non-local source cannot be walked with os.path; it must size to
    the session cap, not count as 0 bytes and pin one sticky partition.
    ``file:`` URIs are local and still size to their bytes."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cap > 1
    assert stream_state_partitions(spark, "s3a://bucket/x") == cap
    assert stream_state_partitions(spark, "hdfs://nn:8020/in/") == cap
    p = tmp_path / "tiny"
    p.mkdir()
    (p / "a.parquet").write_bytes(b"x" * 1024)
    assert stream_state_partitions(spark, str(p), "s3a://bucket/x") == cap
    with open(p / "b.parquet", "wb") as fh:
        fh.truncate(int(1.5 * STREAM_PARTITION_TARGET_BYTES))
    assert stream_state_partitions(spark, p.as_uri()) == min(2, cap)
    q = tmp_path / "my dir%"  # as_uri() percent-encodes both characters
    q.mkdir()
    (p / "b.parquet").rename(q / "b.parquet")
    assert "%20" in q.as_uri()
    assert stream_state_partitions(spark, q.as_uri()) == min(2, cap)


def test_scoped_shuffle_partitions_restores_on_error(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_shuffle_partitions(spark, 1):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_shuffle_partitions(spark, 2):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_star_cc_converges_within_documented_budget(spark):
    """A path of length 64 has diameter 64 <= 2^6: with max_iter=6 the
    loop's diameter-halving budget covers it, and the windowed
    convergence check (+2 detection slack, uncounted confirmation round)
    must still converge instead of tripping the loud unconverged error.
    Labels must equal the min-node truth."""
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.node: r.comp
        for r in connected_components_star(df, max_iter=6).collect()
    }
    assert got == {n: 0 for n in range(65)}


def test_star_cc_empty_graph(spark):
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components_star(df).collect() == []


def test_star_cc_single_round_window_tail(spark):
    """max_iter=1 exercises the odd-tail path (steps == 1), where
    E_{k+1} == E_k IS the fixpoint test and no confirmation round runs:
    a star graph is already one small-star round from its fixpoint."""
    from ingestion_scripts_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a bigint, id_b bigint"
    )
    got = {
        r.node: r.comp
        for r in connected_components_star(df, max_iter=1).collect()
    }
    assert got == {n: 0 for n in range(6)}
