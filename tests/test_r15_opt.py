"""Round-15 optimization internals: scale-adaptive streaming state
partitions (streaming/streams.py), plus the star-CC round budget
(operators/dedup.py) that the r15 two-rounds-per-checkpoint window used to
stretch; the window is gone and star-CC is back to one round per
checkpoint through ``caching.fixpoint``.

The behavioral guarantees (oracle equality of every streaming query,
star-CC == union-find truth on adversarial graphs) are pinned elsewhere
(tools/oracle_check.py sweeps, tests/test_cc_star.py); these tests pin
the internal laws:

* stream_state_partitions derives the count from bytes
  (``readers.input_bytes``, the one input lister) and only ever adapts
  DOWN from the session's configured shuffle partitions (a source whose
  filesystem cannot be reached gets the cap);
* scoped_shuffle_partitions restores the session conf even on error;
* connected_components_star still converges exactly at the documented
  diameter-halving budget: ``max_iter`` rounds that change the edge set
  plus the one round that observes the fixed point.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.sources.readers import input_bytes
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
    """A source whose filesystem cannot be reached must size to the
    session cap, not count as 0 bytes and pin one sticky partition.
    ``file:`` URIs and plain paths size to their bytes. A path is read as
    Hadoop's ``Path`` reads it, as ``spark.read`` does: a URI is not
    percent-decoded."""
    from pyspark.errors import AnalysisException

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
    q = tmp_path / "my dir%"
    q.mkdir()
    (p / "b.parquet").rename(q / "b.parquet")
    assert stream_state_partitions(spark, str(q)) == min(2, cap)
    # as_uri() percent-encodes the space and the %; the encoded name does
    # not exist for spark.read, and the sizer measures the same nothing
    assert "%20" in q.as_uri()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        spark.read.parquet(q.as_uri())
    assert stream_state_partitions(spark, q.as_uri()) == 1


def test_input_bytes_stops_at_stop_at(spark, tmp_path):
    """``input_bytes`` sums data-file lengths (``_SUCCESS`` excluded) and
    stops listing once the sum reaches ``stop_at``."""
    d = tmp_path / "four"
    d.mkdir()
    for i in range(4):
        (d / f"p{i}.parquet").write_bytes(b"x" * 1000)
    (d / "_SUCCESS").write_bytes(b"y" * 5000)
    assert input_bytes(spark, [str(d)], stop_at=1 << 30) == 4000
    assert input_bytes(spark, [str(d)], stop_at=1500) == 2000
    assert input_bytes(spark, [str(tmp_path / "missing")], stop_at=1) == 0


def test_only_readers_lists_input_or_sizes_parallelism():
    """Ratchet: ``sources/readers.py`` is the one module that lists input
    files (``os.walk``, ``getFileSystem``) or sizes parallelism from the
    core count (``defaultParallelism``); everything else calls its
    ``spread`` / ``input_bytes``. ``operators/ranking.py`` reads the core
    count for its range-partition count, which is not a spread."""
    import pathlib

    import ingestion_scripts_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    exempt = {"defaultParallelism": {"operators/ranking.py"}}
    n_files = 0
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "sources/readers.py":
            continue
        n_files += 1
        text = path.read_text()
        for banned in ("os.walk", "getFileSystem", "defaultParallelism"):
            if rel not in exempt.get(banned, ()):
                assert banned not in text, f"{rel}: {banned}"
    assert n_files > 40


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
    loop's diameter-halving budget covers it. A pure-Python simulation of
    the large-star/small-star round map on this path changes the edge set
    in 6 rounds and observes the fixed point in the 7th — exactly
    max_iter changing rounds plus the one observing round the budget
    allows, so this must converge instead of tripping the loud
    unconverged error. Labels must equal the min-node truth."""
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


def test_star_cc_star_graph_is_its_own_fixed_point(spark):
    """A star graph is already a fixed point of the star round map: at
    max_iter=1 its first round changes nothing, is the observing round,
    and the loop converges with the hub as every node's label."""
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
