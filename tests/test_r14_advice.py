"""Pins for the r14 ADVICE fixes.

1. ``snapshot_band_roll`` / ``capped_band_roll`` accept ``base_ids`` so
   the disjointness guard can probe the authoritative corpus membership
   instead of the band table (whose unbanded-short-doc gap is now
   documented) — the loud-failure side is pinned in
   tests/test_r14_new_ops.py::test_capped_roll_validates_against_base_ids;
   here we pin that the documented GAP is real (the band-table probe
   alone admits the collision) so the docstring never silently rots.
2. The streaming snapshot roll's delta sink is a VERSIONED OVERWRITE
   (delta_v{step}) with a content-derived step — a retried foreachBatch
   trigger recomputes from the still-present previous state and rewrites
   the same paths, leaving state AND sink byte-equal (previously a
   non-idempotent append that double-counted delta rows and desynced the
   arrival counter).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark.operators.dedup import banded_buckets, snapshot_band_roll
from ingestion_scripts_spark.registry.part13 import _roll_trigger


def _delta_rows(spark, sink):
    return sorted(
        (r.batch, r.id1, r.id2, r.jaccard, r.status)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(sink)
        .collect()
    )


def test_roll_trigger_replay_is_idempotent(spark, tmp_path):
    """Invoke the same trigger twice (a foreachBatch retry): the second
    run must leave the versioned state and the delta sink EXACTLY as the
    first run did, and the arrival counter must not advance twice."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    state, sink = str(tmp_path / "state"), str(tmp_path / "sink")
    ver = {"n": 0}
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)

    _roll_trigger(spark, b0, state, sink, ver)
    _roll_trigger(spark, b1, state, sink, ver)
    assert ver["n"] == 2
    want_delta = _delta_rows(spark, sink)
    want_bands = sorted(
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(f"{state}/bands_v1").collect()
    )

    # retry of the LAST trigger (the crash-after-commit replay shape)
    _roll_trigger(spark, b1, state, sink, ver)
    assert ver["n"] == 2  # counter did not double-advance
    assert _delta_rows(spark, sink) == want_delta  # no double-counted rows
    assert (
        sorted(
            (r.doc_id, r.band, r.bucket)
            for r in spark.read.parquet(f"{state}/bands_v1").collect()
        )
        == want_bands
    )


def test_roll_trigger_out_of_order_fails_loudly(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    state, sink = str(tmp_path / "state"), str(tmp_path / "sink")
    ver = {"n": 0}
    b2 = docs.filter(F.col("doc_id") % 3 == 2)  # step-2 content arrives first
    with pytest.raises(AssertionError, match="out of order"):
        _roll_trigger(spark, b2, state, sink, ver)


def test_band_table_probe_gap_is_as_documented(spark):
    """The docstring's validation gap must stay TRUE as documented: an
    insert colliding with an UNBANDED (< n_shingle tokens) base doc
    passes the band-table probe; the same roll with base_ids raises.
    (If someone 'fixes' the gap, this test forces the docstring update.)"""
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (7, "tiny doc")],
        "doc_id long, text string",
    )
    bb = banded_buckets(base, "doc_id", "text")
    assert bb.filter(F.col("doc_id") == 7).isEmpty()  # unbanded, as premised
    colliding = spark.createDataFrame(
        [(7, "tiny doc rewritten")], "doc_id long, text string"
    )
    deletes = spark.createDataFrame([], "doc_id long")
    texts = base.unionByName(colliding)
    # gap: band-table probe admits the collision
    nb, delta = snapshot_band_roll(bb, texts, colliding, deletes, threshold=0.5)
    delta.collect()  # executes without raising
    # fix: base_ids probe rejects it
    with pytest.raises(ValueError, match="already present in base"):
        snapshot_band_roll(
            bb, texts, colliding, deletes, threshold=0.5,
            base_ids=base.select("doc_id"),
        )
