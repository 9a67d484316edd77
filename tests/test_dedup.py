"""Dedup operators: J1 anti-join, exact dedup, MinHash-LSH recall on planted
near-dups, SimHash locality."""

from pyspark.sql import functions as F

from ingestion_scripts_spark.operators import dedup as D


def test_anti_join_dedup(spark):
    incoming = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "link string, v int"
    )
    existing = spark.createDataFrame([("b",), ("x",)], "link string")
    out = D.anti_join_dedup(incoming, existing, "link")
    assert sorted(r.link for r in out.collect()) == ["a", "c"]


def test_anti_join_dedup_many_keys(spark):
    """A 100-row batch against every other key: exactly the odd keys
    survive, with Catalyst/AQE choosing the join strategy."""
    incoming = spark.createDataFrame(
        [(f"k{i}", i) for i in range(100)], "link string, v int"
    )
    existing = spark.createDataFrame([(f"k{i}",) for i in range(0, 100, 2)], "link string")
    out = D.anti_join_dedup(incoming, existing, "link")
    assert sorted(r.link for r in out.collect()) == sorted(f"k{i}" for i in range(1, 100, 2))


def test_exact_dedup_keeps_deterministic_winner(spark):
    df = spark.createDataFrame(
        [("k1", 3), ("k1", 1), ("k1", 2), ("k2", 9)], "k string, v int"
    )
    out = D.exact_dedup(df, ["k"], ["v"])
    assert {(r.k, r.v) for r in out.collect()} == {("k1", 1), ("k2", 9)}


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different words about spark engines and columnar data " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    pairs = D.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.jaccard > 0.5 for r in pairs)


def test_connected_components_transitive_cluster(spark):
    """A~B, B~C, D~E: pair-level dedup keeps 2 of {A,B,C}; components key
    all three to min id. Singletons stay out of the result."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    got = {r.node: r.comp for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    """A path graph needs multiple propagation rounds (diameter > 1)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a int, id_b int"
    )
    got = {r.node: r.comp for r in D.connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(9)}


def test_hll_count_distinct_accuracy(spark):
    """b=8 → ~6.5% standard error; 1000 known-distinct values must land
    well inside 3 sigma. Also merge-invariance: repartitioning the input
    cannot change the registers, hence not the estimate."""
    from ingestion_scripts_spark.operators.sketches import hll_count_distinct

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(1000)], "g string, v string"
    )
    est = hll_count_distinct(df, ["g"], "v").collect()[0].n_hll
    assert abs(est - 1000) <= 200
    est2 = hll_count_distinct(df.repartition(13), ["g"], "v").collect()[0].n_hll
    assert est2 == est


def test_simhash_locality(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta " * 3
    b = a + "extra"
    c = "unrelated totally different content here entirely now"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id int, t string")
    fps = {r.id: r.fp for r in df.select("id", D.simhash(F.col("t")).alias("fp")).collect()}

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(fps[1], fps[2]) < hamming(fps[1], fps[3])


def test_jaccard_exact(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        D.jaccard(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            F.array(F.lit("b"), F.lit("c"), F.lit("d")),
        ).alias("j")
    )
    assert abs(df.collect()[0].j - 0.5) < 1e-9


def test_canonical_minhash_collapses_exact_dups(spark):
    """Exact duplicates collapse to one representative (min id) before LSH;
    group sizes ride along; near-dup pairs among representatives match the
    plain operator run on unique texts."""
    from pyspark.sql import functions as F

    from ingestion_scripts_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_dedup_pairs_canonical,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again tomorrow",
        "completely different text about spark engines and shuffle behavior",
    ]
    rows = [(i * 10 + r, base[i]) for i in range(3) for r in range(3)]  # 3 dups each
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = minhash_dedup_pairs_canonical(df, "doc_id", "text", threshold=0.5).collect()
    uniq = spark.createDataFrame(
        [(i * 10, base[i]) for i in range(3)], "doc_id long, text string"
    )
    expect = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup_pairs(uniq, "doc_id", "text", threshold=0.5).collect()
    }
    assert {(r.id_a, r.id_b): r.jaccard for r in got} == expect
    assert all(r.size_a == 3 and r.size_b == 3 for r in got)
    assert len(got) >= 1  # the two fox variants are near-dups


def test_segment_dedup_removes_shared_chunks_preserves_order(spark):
    from ingestion_scripts_spark.operators.dedup import segment_dedup

    shared = "a b c"  # one 3-word segment shared by docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, shared + " x y z"),       # segs: "a b c", "x y z"
            (2, shared + " p q r"),       # segs: "a b c", "p q r"
            (3, "u v w only here once"),  # segs: "u v w", "only here once" - unique
            (4, shared),                  # entirely duplicated -> empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(df, seg_words=3).collect()}
    assert out[1].dedup_text == "x y z" and out[1].n_seg == 2 and out[1].n_kept == 1
    assert out[2].dedup_text == "p q r"
    assert out[3].dedup_text == "u v w only here once" and out[3].n_kept == 2
    assert out[4].dedup_text == "" and out[4].n_kept == 0 and out[4].n_seg == 1


def test_segment_dedup_in_doc_order_and_threshold(spark):
    from ingestion_scripts_spark.operators.dedup import segment_dedup

    # 2-word segments; doc 1 keeps its unique segments in original order
    df = spark.createDataFrame(
        [(1, "k1 k1 s s k2 k2"), (2, "s s"), (3, "s s")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(df, seg_words=2).collect()}
    assert out[1].dedup_text == "k1 k1 k2 k2"  # "s s" in 3 docs, dropped
    # max_docs=3 tolerates the triplicated segment
    out3 = {r.doc_id: r for r in segment_dedup(df, seg_words=2, max_docs=3).collect()}
    assert out3[1].dedup_text == "k1 k1 s s k2 k2"


def test_simhash_near_dup_pairs(spark):
    from ingestion_scripts_spark.operators.dedup import simhash_near_dup_pairs

    import pytest as _pytest

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),    # near dup of 1
        (4, "one two three four five six seven"),     # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            df, "doc_id", "text", bits=60, bands=4, max_hamming=3
        ).collect()
    }
    assert got.get((1, 2)) == 0          # identical text -> hamming 0
    assert all(a < b for a, b in got)    # canonical pair order
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, "doc_id", "text", bands=3, max_hamming=3)


def test_bloom_gate_no_false_negatives(spark):
    from ingestion_scripts_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = spark.createDataFrame([(i,) for i in range(0, 200, 2)], "k bigint")
    probes = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    bloom = bloom_build(members, "k", m_bits=1024, k=3)
    assert bloom.count() <= 1024 // 60 + 1  # word table, not key table
    got = {
        r.k: r.maybe_in
        for r in bloom_maybe_contains(probes, bloom, "k", m_bits=1024, k=3).collect()
    }
    # every real member must be flagged (no false negatives, ever)
    assert all(got[i] == 1 for i in range(0, 200, 2))
    # the filter must actually reject most non-members at this load factor
    rejected = sum(1 for i in range(1, 200, 2) if got[i] == 0)
    assert rejected >= 80


def test_survivor_dedup_keeps_best_copy(spark):
    """Highest prefer_desc wins; ties break on tiebreak_asc — and the
    non-winning copies are gone."""
    df = spark.createDataFrame(
        [
            ("h1", 1, 0.2),
            ("h1", 2, 0.9),   # winner: best quality
            ("h1", 3, 0.9),   # same quality, larger id → loses tiebreak
            ("h2", 4, 0.1),   # singleton group survives untouched
        ],
        "h string, id int, q double",
    )
    out = D.survivor_dedup(df, ["h"], ["q"], ["id"]).collect()
    assert sorted((r.h, r.id) for r in out) == [("h1", 2), ("h2", 4)]


def test_segment_df_stats_flags_shared_segments(spark):
    """A 4-word segment shared by two docs is boilerplate at boiler_df=2;
    unique segments are not; empty docs report zeros."""
    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [
            (1, shared + " uniq1 uniq2 uniq3 uniq4"),
            (2, shared + " only2 only2b only2c only2d"),
            (3, "totally different words here now"),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: (r.n_seg, r.n_boiler, r.boiler_frac)
        for r in D.segment_df_stats(df, seg_words=4, boiler_df=2).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 0, 0.0)
    assert out[4] == (0, 0, 0.0)


def test_incremental_pairs_partition_the_full_self_join(spark):
    """Splitting the corpus into (index, new) must lose no cross-side
    pair: incremental(new × index) ∪ in-batch(new) ∪ in-index(index)
    == full-corpus pairs, at the same threshold."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + (" extra" if i % 3 == 0 else "")) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    new = docs.filter("doc_id % 4 = 0")
    index = docs.filter("doc_id % 4 != 0")

    def pairset(df_pairs, a, b):
        return {
            tuple(sorted((r[a], r[b]))) for r in df_pairs.collect()
        }

    full = pairset(
        D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8),
        "id_a", "id_b",
    )
    cross = pairset(
        D.minhash_incremental_pairs(index, new, "doc_id", "text", threshold=0.8),
        "new_id", "index_id",
    )
    in_new = pairset(
        D.minhash_dedup_pairs(new, "doc_id", "text", threshold=0.8),
        "id_a", "id_b",
    )
    in_idx = pairset(
        D.minhash_dedup_pairs(index, "doc_id", "text", threshold=0.8),
        "id_a", "id_b",
    )
    assert cross | in_new | in_idx == full
    assert cross  # the split actually produced cross-side pairs
