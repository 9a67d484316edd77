"""Seeded input generators for the four workloads.

Everything here is pure Python + numpy/pyarrow: the inputs are written to
files before any timing starts, and the engine only ever sees those files.
The same ``(seed, scale)`` always produces byte-identical inputs.

Each generator returns a plain dict ("manifest") with the file paths, the
sizes, the duplicate/replay shares and whatever the output checks need as
ground truth (offered keys, planted clusters, query vectors).
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CURATE_SMALL = {"clusters": 30, "cluster_size": 5, "singles": 150, "exact_dups": 20,
                 "junk": 20}
_CURATE_TINY = {"clusters": 6, "cluster_size": 4, "singles": 20, "exact_dups": 4, "junk": 4}

#: per-workload input sizes; ``tiny`` is the smoke-test scale
SCALES = {
    "small": {
        "ingest": {"batches": 12, "tweets": 150, "posts": 40, "feeds": 60, "replay": 0.2},
        "stream": {"period_s": 0.5, "per_file": 40, "files": 240, "redeliver": 0.2,
                   "warm_files": 1, "backlog_files": 20},
        "curate": _CURATE_SMALL,
        "search": {"corpus": 6000, "dim": 64, "centers": 256, "queries": 48,
                   "curate": _CURATE_SMALL},
    },
    "tiny": {
        "ingest": {"batches": 5, "tweets": 20, "posts": 6, "feeds": 8, "replay": 0.25},
        "stream": {"period_s": 0.25, "per_file": 10, "files": 40, "redeliver": 0.25,
                   "warm_files": 1, "backlog_files": 4},
        "curate": _CURATE_TINY,
        "search": {"corpus": 400, "dim": 32, "centers": 8, "queries": 12,
                   "curate": _CURATE_TINY},
    },
}

_WORDS = (
    "spark stream data cloud model market vote game music movie news city "
    "rain coffee launch update review budget policy server crash deploy "
    "festival travel health science energy school team match goal price "
    "phone battery design camera vision river mountain garden kitchen"
).split()
_STOP = (
    "the a an and or but of to in on at for with is are was were be been "
    "this that it's im lol i'm got yeah its i me my you your we they"
).split()
_EMOJI = ["\U0001F600", "\U0001F525", "\U0001F680", "❤️", "\U0001F44D", "\U0001F389"]
_TAGS = ["AI", "bigdata", "news", "Python3", "sports", "music2024", "cloud_ops", "ESG"]
_TRENDS = ["tech", "politics", "sports", "music", "finance"]
_TZ_NUM = ["+0000", "+0200", "-0500", "+0530", "-0800"]
_TZ_NAMED = ["GMT", "UTC"]
_MON = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_DOW = "Mon Tue Wed Thu Fri Sat Sun".split()


def _sentence(rng: random.Random, n: int, pool=_WORDS) -> str:
    return " ".join(rng.choice(pool) for _ in range(n))


def _ts_parts(rng: random.Random) -> tuple[int, int, int, int, int, int]:
    return (2020 + rng.randrange(4), 1 + rng.randrange(12), 1 + rng.randrange(28),
            rng.randrange(24), rng.randrange(60), rng.randrange(60))


def _tweet(rng: random.Random, tid: str) -> dict:
    words = _sentence(rng, 6 + rng.randrange(8)).split()
    for _ in range(1 + rng.randrange(3)):
        tag = "#" + rng.choice(_TAGS) + rng.choice(["", "", ",", "!", "."])
        words.insert(rng.randrange(len(words) + 1), tag)
    if rng.random() < 0.5:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_EMOJI))
    if rng.random() < 0.3:
        words.append("[" + rng.choice(_WORDS) + "]")
    if rng.random() < 0.3:
        words.append(rng.choice(_WORDS) + str(rng.randrange(1000)))
    text = " ".join(w.upper() if rng.random() < 0.1 else w for w in words)
    y, mo, d, h, mi, s = _ts_parts(rng)
    off = rng.choice(["+00:00", "+02:00", "-05:00", "+05:30"])
    if rng.random() < 0.5:
        off = off.replace(":", "")  # the compact +HHMM form
    return {
        "tweet_id": tid,
        "text": text,
        "created_at": f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}{off}",
        "metrics": {"likes": rng.randrange(500), "retweets": rng.randrange(100)},
        "author": {"name": "user" + str(rng.randrange(300)), "lang": "en"},
        "trend": rng.choice(_TRENDS),
        "place": rng.choice([None, "Berlin", "Austin", "Lagos"]),
    }


def _post(rng: random.Random, pid: str) -> dict:
    comments = []
    for _ in range(2 + rng.randrange(4)):
        words = [rng.choice(_STOP) if rng.random() < 0.5 else rng.choice(_WORDS[:12])
                 for _ in range(5 + rng.randrange(10))]
        if rng.random() < 0.3:
            words.append(rng.choice(_EMOJI))
        comments.append({"text": " ".join(words), "sentiment": None})
    y, mo, d, h, mi, s = _ts_parts(rng)
    return {
        "id": pid,
        "title": _sentence(rng, 5 + rng.randrange(6)),
        "author": {"name": "redditor" + str(rng.randrange(200))},
        "created": f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}",
        "score": rng.randrange(5000),
        "upvote_ratio": round(rng.random(), 3),
        "reddit": {"subreddit": rng.choice(_TRENDS)},
        "domain": "self." + rng.choice(_TRENDS),
        "url": f"https://reddit.example/{pid}",
        "comments": comments,
    }


def _feed(rng: random.Random, link: str) -> dict:
    y, mo, d, h, mi, s = _ts_parts(rng)
    tz = rng.choice(_TZ_NUM) if rng.random() < 0.5 else rng.choice(_TZ_NAMED)
    dow = _DOW[rng.randrange(7)]
    body = _sentence(rng, 25 + rng.randrange(30)) + ". " + _sentence(rng, 12) + "."
    html = rng.random() < 0.5
    rec = {
        "feed_source": rng.choice(["wire", "blog", "daily"]),
        "title": _sentence(rng, 6),
        "link": link,
        "published": f"{dow}, {d:02d} {_MON[mo - 1]} {y:04d} {h:02d}:{mi:02d}:{s:02d} {tz}",
        "author": "writer" + str(rng.randrange(50)),
        "summary": (f"<p>{_sentence(rng, 10)}</p>" if rng.random() < 0.5 else None),
        "authors": ["writer" + str(rng.randrange(50))],
        "tags": [rng.choice(_TRENDS)],
        "comments": None,
        "content": (f"<div><p>{body}</p><script>x()</script></div>" if html else body),
        "source": {"href": "https://feeds.example/" + rng.choice(_TRENDS)},
    }
    if rng.random() < 0.3:
        rec["published_parsed"] = [y, mo, d, h, mi, s, 0, 1, 0]
    return rec


def _write_jsonl(path: str, recs: list[dict]) -> int:
    with open(path, "w", encoding="utf-8") as f:
        for r in recs:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    return os.path.getsize(path)


def gen_ingest(root: str, seed: int, p: dict) -> dict:
    """``batches`` successive batches of tweets, reddit posts and RSS feeds.
    A ``replay`` share of each batch (after the first) is re-sent from the
    previous batch; every batch also repeats one RSS link inside itself."""
    rng = random.Random(seed)
    kinds = {"tweets": (p["tweets"], _tweet, "tweet_id"),
             "posts": (p["posts"], _post, "id"),
             "feeds": (p["feeds"], _feed, "link")}
    batches, offered, nbytes = [], 0, 0
    prev: dict[str, list[dict]] = {}
    counter = 0
    for b in range(p["batches"]):
        entry = {}
        for kind, (n, make, key) in kinds.items():
            n_replay = int(n * p["replay"]) if b else 0
            recs = [dict(r) for r in rng.sample(prev[kind], n_replay)] if n_replay else []
            while len(recs) < n:
                counter += 1
                ident = (f"https://news.example/a/{seed}-{counter}" if kind == "feeds"
                         else f"{kind[0]}{seed}-{counter}")
                recs.append(make(rng, ident))
            if kind == "feeds":
                recs.append(dict(recs[rng.randrange(len(recs))]))  # in-batch dup link
            path = os.path.join(root, f"{kind}-{b:04d}.jsonl")
            nbytes += _write_jsonl(path, recs)
            offered += len(recs)
            entry[kind] = {"path": path, "keys": [r[key] for r in recs], "n": len(recs)}
            entry.setdefault("records", {})[kind] = recs
            prev[kind] = recs
        batches.append(entry)
    return {"batches": batches, "input_bytes": nbytes, "records": offered,
            "replay_share": p["replay"]}


def gen_stream(root: str, seed: int, p: dict) -> dict:
    """Open-loop tweet files (one due every ``period_s``), a share of each
    file redelivering earlier records, plus warm-up files and a staged
    backlog for the closed-loop drain phase."""
    rng = random.Random(seed)
    staging = os.path.join(root, "staging")
    backlog = os.path.join(root, "backlog")
    os.makedirs(staging)
    os.makedirs(backlog)
    files, seen = [], []
    first_file: dict[str, int] = {}
    counter = 0
    nbytes = 0
    redelivered = 0

    def fresh() -> dict:
        nonlocal counter
        counter += 1
        return _tweet(rng, f"s{seed}-{counter}")

    warm, warm_paths = [], []
    for i in range(p["warm_files"]):
        recs = [fresh() for _ in range(p["per_file"])]
        warm_paths.append(os.path.join(staging, f"warm{i}.jsonl"))
        nbytes += _write_jsonl(warm_paths[-1], recs)
        warm.extend(recs)
    for i in range(p["files"]):
        n_re = int(p["per_file"] * p["redeliver"]) if seen else 0
        recs = [dict(r) for r in rng.sample(seen[-200:], min(n_re, len(seen[-200:])))]
        redelivered += len(recs)
        while len(recs) < p["per_file"]:
            r = fresh()
            first_file[r["tweet_id"]] = i
            recs.append(r)
        seen.extend(recs)
        path = os.path.join(staging, f"f{i:05d}.jsonl")
        nbytes += _write_jsonl(path, recs)
        files.append({"path": path, "keys": [r["tweet_id"] for r in recs]})
    backlog_keys = []
    for i in range(p["backlog_files"]):
        recs = [fresh() for _ in range(p["per_file"] * 4)]
        recs.extend(dict(r) for r in rng.sample(recs, int(len(recs) * p["redeliver"])))
        nbytes += _write_jsonl(os.path.join(backlog, f"b{i:05d}.jsonl"), recs)
        backlog_keys.extend(r["tweet_id"] for r in recs)
    return {"files": files, "first_file": first_file, "warm": warm_paths,
            "warm_keys": [r["tweet_id"] for r in warm], "backlog": backlog,
            "backlog_keys": backlog_keys, "period_s": p["period_s"],
            "input_bytes": nbytes, "records": p["files"] * p["per_file"],
            "redelivery_share": redelivered / max(1, p["files"] * p["per_file"])}


def _mutate(rng: random.Random, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(_WORDS) + str(rng.randrange(100))
    return out


def gen_curate(root: str, seed: int, p: dict) -> dict:
    """``documents.parquet`` with planted near-duplicate clusters. Each
    cluster is a CHAIN (doc k is a light edit of doc k-1), so the
    similarity graph has diameter > 2 and CC needs several rounds. Also
    plants exact duplicates and junk docs that the quality gate drops."""
    rng = random.Random(seed)
    rows: list[tuple[int, str, str]] = []
    next_id = 0

    def add(text: str, src: str) -> None:
        nonlocal next_id
        next_id += 1
        rows.append((next_id, text, src))

    vocab = [f"{w}{i}" for i in range(40) for w in _WORDS[:25]]
    for _ in range(p["clusters"]):
        words = [rng.choice(vocab) for _ in range(80)]
        for _ in range(p["cluster_size"]):
            add(" ".join(words), "crawl")
            words = _mutate(rng, words, 2)
    for _ in range(p["singles"]):
        add(" ".join(rng.choice(vocab) for _ in range(60 + rng.randrange(40))), "crawl")
    for _ in range(p["exact_dups"]):
        add(rows[rng.randrange(len(rows))][1], "mirror")
    for _ in range(p["junk"]):
        add(" ".join(rng.choice(["$$", "!!", "--", "##"]) for _ in range(rng.randrange(3, 9))),
            "spam")
    rng.shuffle(rows)
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    path = os.path.join(root, "documents.parquet")
    pq.write_table(table, path)
    return {"dir": root, "docs": {r[0]: r[1] for r in rows},
            "input_bytes": os.path.getsize(path), "records": len(rows),
            "exact_dup_share": p["exact_dups"] / len(rows),
            "near_dup_share": p["clusters"] * p["cluster_size"] / len(rows)}


def gen_search(root: str, seed: int, p: dict) -> dict:
    """``embeddings.parquet``: a clustered corpus (Gaussian blobs around
    ``centers`` random unit directions) and ``queries.parquet``: query
    vectors drawn from the same blobs, one batch of them. Also
    the corpus text, ``documents.parquet`` (as for ``curate``), which the
    workload curates once per run."""
    rng = np.random.default_rng(seed)
    dim = p["dim"]
    centers = rng.normal(size=(p["centers"], dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n: int) -> tuple[np.ndarray, np.ndarray]:
        lab = rng.integers(0, p["centers"], size=n)
        v = centers[lab] + 0.25 * rng.normal(size=(n, dim)) / np.sqrt(dim)
        return v.astype(np.float32), lab

    corpus, labels = draw(p["corpus"])
    n_q = p["queries"]
    queries, _ = draw(n_q)

    def vec_table(ids: np.ndarray, vecs: np.ndarray, extra: dict) -> pa.Table:
        flat = pa.array(vecs.reshape(-1), pa.float32())
        emb = pa.ListArray.from_arrays(pa.array(np.arange(0, vecs.size + 1, dim, dtype=np.int32)), flat)
        return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb, **extra})

    corpus_ids = np.arange(len(corpus), dtype=np.int64)
    query_ids = 1_000_000 + np.arange(n_q, dtype=np.int64)
    pq.write_table(vec_table(corpus_ids, corpus, {"label": pa.array(labels, pa.int32())}),
                   os.path.join(root, "embeddings.parquet"))
    pq.write_table(vec_table(query_ids, queries, {}), os.path.join(root, "queries.parquet"))
    docs = gen_curate(root, seed, p["curate"])
    nbytes = sum(os.path.getsize(os.path.join(root, f))
                 for f in ("embeddings.parquet", "queries.parquet", "documents.parquet"))
    return {"dir": root, "corpus": corpus, "corpus_ids": corpus_ids, "queries": queries,
            "query_ids": query_ids,
            "dim": dim, "input_bytes": nbytes, "records": len(corpus) + n_q + docs["records"],
            "curate": docs, "exact_dup_share": docs["exact_dup_share"],
            "near_dup_share": docs["near_dup_share"]}


GENERATORS = {"ingest": gen_ingest, "stream": gen_stream, "curate": gen_curate,
              "search": gen_search}


def generate(workload: str, root: str, seed: int, scale: str = "small") -> dict:
    os.makedirs(root, exist_ok=True)
    return GENERATORS[workload](root, seed, SCALES[scale][workload])
