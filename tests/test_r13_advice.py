"""Regression pins for three r12 ADVICE items (shipped r13):

1. profiling.calibration_drift — the thrice-consumed (bucket, bin)
   aggregate is persist_tracked, guaranteeing one compute of the corpus
   scan instead of relying on ReuseExchange.
2. spans.span_removal_apply — the text rebuild is a gap-walking
   ``aggregate`` over the sorted coverage array (O(n_tokens+n_removed)),
   pinned here against hand-computed excisions including the full-doc and
   boundary cases the old per-token membership filter also handled.
3. dedup.snapshot_band_delta — the insert/base and insert/delete
   disjointness contract is eagerly enforced (ValueError), not silently
   mis-reported as 'formed' pairs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestion_scripts_spark import caching
from ingestion_scripts_spark.operators.dedup import snapshot_band_delta
from ingestion_scripts_spark.operators.profiling import calibration_drift
from ingestion_scripts_spark.operators.spans import span_removal_apply


# --------------------------------------------------------------------------
# 1. calibration_drift persists its thrice-consumed aggregate
# --------------------------------------------------------------------------

def test_calibration_drift_persists_per_bin(spark):
    caching.release_caches()
    before = caching.live_count()
    d = F.col("id")
    df = spark.range(2000).select(
        (d % 3).alias("b"),
        ((d * 37) % 1_000_000).alias("s"),
        ((d % 5) < 2).cast("int").alias("y"),
    )
    out = calibration_drift(df, F.col("b"), F.col("s"), F.col("y"))
    assert caching.live_count() == before + 1  # per_bin tracked
    rows = out.collect()
    assert [r.bucket for r in rows] == [0, 1, 2]
    assert rows[0].drift_u == 0  # baseline bucket vs itself
    caching.release_caches()


# --------------------------------------------------------------------------
# 2. gap-walk rebuild equals hand-computed excision
# --------------------------------------------------------------------------

def test_span_removal_apply_gap_walk_hand_cases(spark):
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (1, a),                              # first occurrence: untouched
            (2, a),                              # full-doc duplicate: emptied
            (3, "x1 x2 w1 w2 w3 w4 w5 y1 y2"),   # interior excision
            (4, "solo tokens only here"),        # < k tokens: passthrough
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in span_removal_apply(docs, k=5).collect()
    }
    assert got[1] == (10, 0, a)
    assert got[2] == (10, 10, "")          # coverage spans the whole doc
    assert got[3] == (9, 5, "x1 x2 y1 y2")  # prefix+suffix survive the gap
    assert got[4] == (4, 0, "solo tokens only here")


def test_span_removal_apply_adjacent_and_tail_coverage(spark):
    # two occurrences of the SAME span inside one doc, second at the exact
    # tail — exercises consecutive covered positions (c == acc.nxt) and a
    # finisher slice of length zero
    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e")], "doc_id long, text string"
    )
    r = span_removal_apply(docs, k=5).collect()[0]
    assert (r.n_tokens, r.n_removed, r.text_clean) == (10, 5, "a b c d e")


# --------------------------------------------------------------------------
# 3. snapshot delta contract guard
# --------------------------------------------------------------------------

def _delta_frames(spark, insert_id):
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    inserts = spark.createDataFrame(
        [(insert_id, "red orange yellow green blue")],
        "doc_id long, text string",
    )
    deletes = spark.createDataFrame([(2,)], "doc_id long")
    return base, inserts, deletes


def test_snapshot_band_delta_rejects_insert_in_base(spark):
    base, inserts, deletes = _delta_frames(spark, insert_id=1)
    with pytest.raises(ValueError, match="already present in base"):
        snapshot_band_delta(base, inserts, deletes)


def test_snapshot_band_delta_rejects_insert_in_deletes(spark):
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    inserts = spark.createDataFrame(
        [(2, "red orange yellow green blue")], "doc_id long, text string"
    )
    deletes = spark.createDataFrame([(2,)], "doc_id long")
    with pytest.raises(ValueError, match="BOTH inserts and delete_ids"):
        snapshot_band_delta(base, inserts, deletes)


def test_snapshot_band_delta_validate_false_skips_guard(spark):
    base, inserts, deletes = _delta_frames(spark, insert_id=1)
    # trusted-pipeline escape hatch: no eager jobs, plan still builds
    out = snapshot_band_delta(base, inserts, deletes, validate=False)
    assert set(out.columns) == {"id1", "id2", "jaccard", "status"}
