"""r12 ADVICE-fix regression pins (ADVICE.md r11, all four items).

1. medium — ``canonicalize_url`` must not crash on malformed URLs:
   Spark 4's ``parse_url`` raises INVALID_URL on any unparseable input,
   which would fail a whole crawl-curation job on one junk row. The fix
   (``try_parse_url`` + NULL-host routing in ``_with_url_keys``) is
   pinned here with genuinely malformed rows mixed into the input.
2. low — trailing-slash COLLAPSE (``/+$``): ``/a//``, ``/a/`` and
   ``/a`` canonicalize identically, in Spark and in the DuckDB twin's
   pinned regex (checked against a live DuckDB ``regexp_replace``).
3. low — ``shared_span_pairs`` computes the rare-span posting list once
   (persist_tracked), not per join branch; results unchanged.
4. (tools/deep_cc_probe.py docstring fix — no runtime surface.)
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from ingestion_scripts_spark import caching
from ingestion_scripts_spark.caching import release_caches
from ingestion_scripts_spark.operators.domains import (
    canonicalize_url,
    domain_dedup,
)


# --------------------------------------------------------------------------
# ADVICE 1 (medium): malformed URLs must route out, never crash
# --------------------------------------------------------------------------

MALFORMED = [
    "not a url",
    "http://",
    "://missing-scheme.com/x",
    "ht tp://bad scheme.com/",
    "",
]


def test_malformed_urls_do_not_crash_canonicalize(spark):
    rows = [(i, u) for i, u in enumerate(MALFORMED)] + [
        (100, "http://Ok.Example.COM/a/?id=1&utm_source=x#f")
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    host, canon = canonicalize_url(F.col("url"))
    got = df.select("doc_id", host.alias("h")).collect()  # must not raise
    by_id = {r.doc_id: r.h for r in got}
    assert by_id[100] == "ok.example.com"
    assert all(by_id[i] in (None, "") for i in range(len(MALFORMED)))


def test_domain_dedup_routes_malformed_out(spark):
    rows = [(i, 10, u) for i, u in enumerate(MALFORMED)] + [
        (100, 10, "http://ex.com/a"),
        (101, 20, "http://ex.com/a/"),  # dup of 100 after slash collapse
    ]
    df = spark.createDataFrame(rows, "doc_id long, sz long, url string")
    out = domain_dedup(df, "url", prefer_desc=["sz"], tiebreak_asc=["doc_id"])
    got = {(r.doc_id, r.canon) for r in out.collect()}
    # one survivor (highest sz) for the well-formed pair; junk rows gone
    assert got == {(101, "https://ex.com/a")}


# --------------------------------------------------------------------------
# ADVICE 3 (low): trailing slashes COLLAPSE, identically in both engines
# --------------------------------------------------------------------------

def test_trailing_slash_collapse_both_engines(spark):
    urls = [
        "http://ex.com/a",
        "http://ex.com/a/",
        "http://ex.com/a//",
        "http://ex.com/a///",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    _, canon = canonicalize_url(F.col("url"))
    spark_canons = {r.c for r in df.select(canon.alias("c")).collect()}
    assert spark_canons == {"https://ex.com/a"}

    # the DuckDB twin's pinned path regex, against the same raw paths
    duck = {
        duckdb.sql(
            f"SELECT regexp_replace('{u.split('ex.com')[1]}', '/+$', '')"
        ).fetchone()[0]
        for u in urls
    }
    assert duck == {"/a"}


# --------------------------------------------------------------------------
# ADVICE 2 (low): single rare-span posting frame, identical results
# --------------------------------------------------------------------------

def test_shared_span_pairs_single_posting_frame(spark):
    from ingestion_scripts_spark.operators.spans import shared_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h x y"),
            (3, "z z z z z z z z z z"),
        ],
        "doc_id long, text string",
    )
    live_before = caching.live_count()
    out = shared_span_pairs(docs, k=8)
    assert caching.live_count() == live_before + 1  # ONE tracked posting
    assert {(r.id1, r.id2) for r in out.collect()} == {(1, 2)}
    release_caches()
