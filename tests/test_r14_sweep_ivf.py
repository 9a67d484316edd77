"""Law tests for the r14 beyond-docket additions (ledgered in
tests/law_ledger.py).

- hot_bucket_sweep: pure-python sequential reference equality (sigs,
  banding, rank ordering, windowed candidates, Jaccard verify all
  re-derived independently); completeness at full window — capped-path
  pairs ∪ sweep pairs == uncapped pairs, so the cap+sweep pipeline
  loses NOTHING once the offline pass runs wide enough; window
  monotonicity; and the degenerate-bucket bound — on a bucket of w
  identical docs the sweep emits exactly the rank-distance ≤ window
  pairs, Σ(w−d) for d ≤ window, never C(w,2).
- ivf_postings_roll / ivf_serve_from_postings: roll ≡ from-scratch
  assignment of snapshot2; audit balances exactly (n_after == per-cell
  count of the maintained table; Σ n_added == |inserts|; Σ n_removed ==
  |deletes ∩ corpus|); serving from rolled postings ≡ ivf_ann_topk
  recomputed from scratch (single- and multi-probe); the SCD delta
  guard fails loudly on an insert id already in the postings (and is
  complete here — IVF assignment is total, no unbanded-short-doc gap).
"""

from __future__ import annotations

import hashlib

import pytest

from ingestion_scripts_spark.operators import similarity as SIM
from ingestion_scripts_spark.operators.dedup import (
    banded_buckets,
    hot_bucket_sweep,
    jaccard,
    pairs_from_banded,
    shingles,
)

# --------------------------------------------------------------------------
# pure-python reference of the sweep (independent of the Spark lineage)
# --------------------------------------------------------------------------

_H2_MOD = 1 << 40


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(text: str, n: int = 3) -> list[str]:
    toks = [t for t in text.lower().split(" ") if t]
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def _sig(text: str, num_hashes: int = 16) -> list[int] | None:
    sh = _shingles(text)
    if not sh:
        return None
    sig = []
    for i in range(num_hashes):
        sig.append(
            min(_h(g) + i * (_h(g + "#") % _H2_MOD) for g in sh)
        )
    return sig


def _bands(sig: list[int], bands: int = 4) -> list[tuple[int, str]]:
    rpb = len(sig) // bands
    return [
        (b, hashlib.md5(
            ",".join(str(x) for x in sig[b * rpb : (b + 1) * rpb]).encode()
        ).hexdigest())
        for b in range(bands)
    ]


def _jac(a: str, b: str) -> float:
    sa, sb = set(_shingles(a)), set(_shingles(b))
    return round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0


def _py_sweep(texts: dict[int, str], cap: int, window: int,
              threshold: float = 0.8) -> dict[tuple[int, int], float]:
    sigs = {i: _sig(t) for i, t in texts.items()}
    rows = [
        (i, b, bk)
        for i, s in sigs.items() if s is not None
        for b, bk in _bands(s)
    ]
    width: dict[tuple[int, str], int] = {}
    for _, b, bk in rows:
        width[(b, bk)] = width.get((b, bk), 0) + 1
    pairs: set[tuple[int, int]] = set()
    for b, bk in {k for k, w in width.items() if w > cap}:
        mem = sorted(
            (i for i, bb, kk in rows if (bb, kk) == (b, bk)),
            key=lambda i: (sigs[i], i),
        )
        for a_pos in range(len(mem)):
            for b_pos in range(a_pos + 1, min(a_pos + window + 1, len(mem))):
                x, y = mem[a_pos], mem[b_pos]
                pairs.add((min(x, y), max(x, y)))
    return {
        (i, j): _jac(texts[i], texts[j])
        for i, j in pairs
        if _jac(texts[i], texts[j]) >= threshold
    }


def _sweep_corpus(spark):
    """6 boilerplate near-clones (one hot bucket family) + 2 distinct
    near-dup pairs that only collide in narrow buckets + noise docs."""
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, boiler + f" tail{i % 2}") for i in range(1, 7)]
    rows += [
        (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (12, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (21, "one two three four five six seven eight nine ten eleven"),
        (22, "one two three four five six seven eight nine ten twelve"),
        (31, "completely different tokens about rivers mountains valleys"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), dict(rows)


def test_sweep_matches_python_reference(spark):
    docs, texts = _sweep_corpus(spark)
    bands = banded_buckets(docs, "doc_id", "text")
    got = {
        (r.id1, r.id2): r.jaccard
        for r in hot_bucket_sweep(
            bands, docs, threshold=0.5, max_bucket_width=2, neighbor_window=2
        ).collect()
    }
    want = _py_sweep(texts, cap=2, window=2, threshold=0.5)
    assert got == want and len(got) > 0


def _verified_pairs(docs, cand):
    from pyspark.sql import functions as F

    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    return {
        (r.id1, r.id2)
        for r in cand.join(
            sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("s1")),
            "id1",
        )
        .join(
            sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("s2")),
            "id2",
        )
        .filter(F.round(jaccard(F.col("s1"), F.col("s2")), 6) >= 0.5)
        .select("id1", "id2")
        .collect()
    }


def test_sweep_equals_verified_candidates(spark):
    """The split the capped_sweep_recall query relies on: hot_bucket_sweep
    == Jaccard-verify(hot_bucket_sweep_candidates) — so verifying sweep
    candidates inside a SHARED verify pass (one shingle join for all
    candidate families) yields exactly the sweep's pair set."""
    from ingestion_scripts_spark.operators.dedup import (
        hot_bucket_sweep_candidates,
    )

    docs, _ = _sweep_corpus(spark)
    bands = banded_buckets(docs, "doc_id", "text")
    swept = {
        (r.id1, r.id2)
        for r in hot_bucket_sweep(
            bands, docs, threshold=0.5, max_bucket_width=2, neighbor_window=2
        ).collect()
    }
    cand = hot_bucket_sweep_candidates(
        bands, docs, max_bucket_width=2, neighbor_window=2
    )
    assert _verified_pairs(docs, cand) == swept and len(swept) > 0


def test_sweep_full_window_completes_capped_to_uncapped(spark):
    from pyspark.sql import functions as F

    docs, _ = _sweep_corpus(spark)
    bands = banded_buckets(docs, "doc_id", "text")
    cap = 2
    widths = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("w"))
    ok = widths.filter(F.col("w") <= cap).select("band", "bucket")

    def cand_pairs(bb):
        return pairs_from_banded(bb, "doc_id").select(
            F.col("id_a").alias("id1"), F.col("id_b").alias("id2")
        )

    uncapped = _verified_pairs(docs, cand_pairs(bands))
    capped = _verified_pairs(docs, cand_pairs(bands.join(ok, ["band", "bucket"])))
    swept = {
        (r.id1, r.id2)
        for r in hot_bucket_sweep(
            bands, docs, threshold=0.5, max_bucket_width=cap,
            neighbor_window=1000,
        ).collect()
    }
    assert capped | swept == uncapped
    assert uncapped - capped  # the cap binds: the sweep recovered something
    assert swept >= uncapped - capped


def test_sweep_window_monotone(spark):
    docs, _ = _sweep_corpus(spark)
    bands = banded_buckets(docs, "doc_id", "text")

    def run(w):
        return {
            (r.id1, r.id2)
            for r in hot_bucket_sweep(
                bands, docs, threshold=0.5, max_bucket_width=2,
                neighbor_window=w,
            ).collect()
        }

    s1, s2, s_full = run(1), run(2), run(1000)
    assert s1 <= s2 <= s_full


def test_sweep_degenerate_bucket_bounded(spark):
    """w identical docs, window d: the sweep emits exactly the
    rank-distance ≤ d pairs — Σ_{k=1..d}(w−k) of C(w,2) — and rank order
    under identical signatures is doc_id order, so the expected pair set
    is computable in closed form."""
    w, d = 12, 2
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(1, w + 1)], "doc_id long, text string"
    )
    bands = banded_buckets(docs, "doc_id", "text")
    got = {
        (r.id1, r.id2)
        for r in hot_bucket_sweep(
            bands, docs, threshold=0.8, max_bucket_width=4, neighbor_window=d
        ).collect()
    }
    want = {
        (i, i + k) for k in range(1, d + 1) for i in range(1, w + 1 - k)
    }
    assert got == want
    assert len(got) == sum(w - k for k in range(1, d + 1)) < w * (w - 1) // 2


# --------------------------------------------------------------------------
# IVF postings roll laws
# --------------------------------------------------------------------------

_DIM, _CELLS = 4, 4


def _vec(i: int, dim: int = _DIM) -> list[float]:
    return [
        (_h(f"v:{i},{d}") % 2001 - 1000) / 1000.0 for d in range(dim)
    ]


def _ivf_frames(spark):
    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(1, 41) if i % 4 != 0],
        "vec_id long, embedding array<double>",
    )
    inserts = spark.createDataFrame(
        [(i, _vec(i)) for i in range(1, 41) if i % 4 == 0],
        "vec_id long, embedding array<double>",
    )
    deletes = spark.createDataFrame(
        [(i,) for i in range(1, 41) if i % 4 != 0 and i % 9 == 0],
        "vec_id long",
    )
    snap2 = spark.createDataFrame(
        [
            (i, _vec(i))
            for i in range(1, 41)
            if i % 4 == 0 or i % 9 != 0
        ],
        "vec_id long, embedding array<double>",
    )
    return base, inserts, deletes, snap2


def _bootstrap(spark, corpus):
    empty_post = spark.createDataFrame([], "vec_id long, cell int")
    empty_del = spark.createDataFrame([], "vec_id long")
    p, _ = SIM.ivf_postings_roll(
        empty_post, corpus, empty_del, dim=_DIM, n_cells=_CELLS,
        validate=False,
    )
    return p


def test_ivf_roll_equals_scratch_assignment(spark):
    base, inserts, deletes, snap2 = _ivf_frames(spark)
    p1 = _bootstrap(spark, base)
    p2, _ = SIM.ivf_postings_roll(
        p1, inserts, deletes, dim=_DIM, n_cells=_CELLS
    )
    want = {(r.vec_id, r.cell) for r in _bootstrap(spark, snap2).collect()}
    got = {(r.vec_id, r.cell) for r in p2.collect()}
    assert got == want and len(got) == snap2.count()


def test_ivf_roll_audit_balances(spark):
    base, inserts, deletes, _ = _ivf_frames(spark)
    p1 = _bootstrap(spark, base)
    p2, audit = SIM.ivf_postings_roll(
        p1, inserts, deletes, dim=_DIM, n_cells=_CELLS
    )
    rows = audit.collect()
    after = {r.cell: r.n_after for r in rows}
    from collections import Counter

    maint = Counter(r.cell for r in p2.collect())
    assert after == {c: n for c, n in maint.items()} | {
        c: 0 for c in after if c not in maint
    }
    assert sum(r.n_added for r in rows) == inserts.count()
    assert sum(r.n_removed for r in rows) == deletes.count()
    assert all(r.n_before + r.n_added - r.n_removed == r.n_after for r in rows)


@pytest.mark.parametrize("probes", [1, 2])
def test_ivf_serve_equals_scratch_topk(spark, probes):
    base, inserts, deletes, snap2 = _ivf_frames(spark)
    p1 = _bootstrap(spark, base)
    p2, _ = SIM.ivf_postings_roll(
        p1, inserts, deletes, dim=_DIM, n_cells=_CELLS
    )
    queries = snap2.filter("vec_id % 5 = 0")
    got = {
        (r.query_id, r.match_id, r.sim, r.rank)
        for r in SIM.ivf_serve_from_postings(
            queries, snap2, p2, dim=_DIM, n_cells=_CELLS, k=3, probes=probes
        ).collect()
    }
    want = {
        (r.query_id, r.match_id, r.sim, r.rank)
        for r in SIM.ivf_ann_topk(
            queries, snap2, dim=_DIM, n_cells=_CELLS, k=3, probes=probes
        ).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_roll_delta_guard_fails_loudly(spark):
    base, inserts, deletes, _ = _ivf_frames(spark)
    p1 = _bootstrap(spark, base)
    bad = inserts.unionByName(base.limit(1))  # id already in the postings
    with pytest.raises(ValueError, match="already present"):
        SIM.ivf_postings_roll(
            p1, bad, deletes, dim=_DIM, n_cells=_CELLS
        )[0].collect()


# --------------------------------------------------------------------------
# streaming IVF roll laws (composition / replay / ordering)
# --------------------------------------------------------------------------

def _ivf_batches(spark):
    # 64-dim: _ivf_trigger rolls under the registry's default 64-dim
    # centroids, and a vector of another length is a loud error
    return [
        spark.createDataFrame(
            [(i, _vec(i, 64)) for i in range(60) if i % 3 == b],
            "vec_id long, embedding array<double>",
        )
        for b in (0, 1, 2)
    ]


def test_stream_ivf_roll_equals_batch_composition(spark):
    """Unrolled-batch law: the REAL streaming job ("stream_ivf_roll" —
    versioned-parquet state, foreachBatch triggers, checkpoint) must
    emit exactly what sequential batch composition of ivf_postings_roll
    produces over the same %3-insert / %7-retire schedule — state
    round-tripping adds nothing and loses nothing (template:
    test_r13_new_ops.py::test_stream_snapshot_roll_equals_batch_composition)."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    q_stream = E.queries()["stream_ivf_roll"]
    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    prev = spark.createDataFrame([], "vec_id long, cell int")
    want = set()
    for step in range(3):
        inserts = emb.filter(F.col("vec_id") % 3 == step)
        retire = prev.filter(F.col("vec_id") % 7 == step).select("vec_id")
        new_post, audit = SIM.ivf_postings_roll(
            prev, inserts, retire, validate=False
        )
        want |= {
            (step, r.cell, r.n_before, r.n_added, r.n_removed, r.n_after)
            for r in audit.collect()
        }
        # materialize state between rounds (collect+recreate) so the law
        # side carries no growing lineage — mirrors the parquet round-trip
        prev = spark.createDataFrame(
            [(r.vec_id, r.cell) for r in new_post.collect()],
            "vec_id long, cell int",
        )

    got = {
        (r.batch, r.cell, r.n_before, r.n_added, r.n_removed, r.n_after)
        for r in q_stream(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0
    assert sum(1 for (_, _, _, _, rem, _) in got if rem > 0) > 0


def test_stream_ivf_roll_replay_safe_and_ordered(spark, tmp_path):
    """A retried trigger (same content step) leaves state and sink
    unchanged — every write is a versioned overwrite keyed by the
    content-derived step; an out-of-order batch fails loudly."""
    from ingestion_scripts_spark.registry.part14 import _ivf_trigger

    state, sink = str(tmp_path / "state"), str(tmp_path / "sink")
    ver = {"n": 0}
    batches = _ivf_batches(spark)
    for b in batches:
        _ivf_trigger(spark, b, state, sink, ver)

    def snap():
        post = sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(f"{state}/post_v2").collect()
        )
        aud = sorted(
            tuple(r)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(sink)
            .collect()
        )
        return post, aud

    before = snap()
    _ivf_trigger(spark, batches[2], state, sink, ver)  # foreachBatch retry
    assert snap() == before
    with pytest.raises(AssertionError, match="out of order"):
        _ivf_trigger(spark, batches[0], state, sink, ver)
