"""Pure-Python references and output checks.

Each check returns a list of error strings (empty = pass). Sinks are read
back with pyarrow, never with the engine under test.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow.dataset as ds

_UTC = dt.timezone.utc
#: Java's ``\w`` is ASCII-only, so the reference uses ``re.ASCII``
_HASHTAG = re.compile(r"#(\w+)", re.ASCII)


def read_sink(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of a parquet sink directory (``_``/``.`` files ignored)."""
    if not os.path.isdir(path):
        return {c: [] for c in columns}
    table = ds.dataset(path, format="parquet").to_table(columns=columns)
    return {c: table.column(c).to_pylist() for c in columns}


def sink_rows(path: str) -> int:
    """Row count of a parquet sink directory from file footers only."""
    return ds.dataset(path, format="parquet").count_rows() if os.path.isdir(path) else 0


def sink_key_errors(name: str, keys: list, offered) -> list[str]:
    """The sink holds exactly the distinct offered keys, each once."""
    errors = []
    if len(keys) != len(set(keys)):
        dup = len(keys) - len(set(keys))
        errors.append(f"{name}: {dup} duplicate sink keys")
    missing = set(offered) - set(keys)
    extra = set(keys) - set(offered)
    if missing:
        errors.append(f"{name}: {len(missing)} offered keys missing from the sink")
    if extra:
        errors.append(f"{name}: {len(extra)} sink keys never offered")
    return errors


def hashtags(text: str) -> list[str]:
    return _HASHTAG.findall(text)


def _epoch(d: dt.datetime) -> float:
    return (d if d.tzinfo else d.replace(tzinfo=_UTC)).timestamp()


def zoned_epoch(s: str) -> float:
    return _epoch(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S%z"))


def simple_epoch(s: str) -> float:
    return _epoch(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S"))


def rss_epoch(published: str, published_parsed) -> float:
    """The reference's date rule: the struct_time list wins, else RFC-822
    with a numeric (%z) or named (GMT/UTC) zone."""
    if published_parsed and len(published_parsed) >= 6:
        return _epoch(dt.datetime(*published_parsed[:6]))
    body = re.sub(r"^[A-Za-z]+,\s*", "", published)
    head, tz = body.rsplit(" ", 1)
    if re.search(r"\d", tz):
        return _epoch(dt.datetime.strptime(body, "%d %b %Y %H:%M:%S %z"))
    return _epoch(dt.datetime.strptime(head, "%d %b %Y %H:%M:%S"))


def _ts_epoch(v) -> float | None:
    return None if v is None else _epoch(v)


def field_errors(name: str, rows: list[dict], expect, actual, sample: int = 50) -> list[str]:
    """Compare ``actual(row)`` with the reference ``expect(row)`` on a
    deterministic sample of sink rows."""
    bad = 0
    for row in rows[:sample]:
        if expect(row) != actual(row):
            bad += 1
    return [f"{name}: {bad} of {min(sample, len(rows))} sampled rows disagree"] if bad else []


def _sink_rows(path: str, columns: list[str]) -> list[dict]:
    """Sink rows as dicts, sorted by the first column (the key)."""
    cols = read_sink(path, columns)
    return sorted((dict(zip(cols, v)) for v in zip(*cols.values())), key=lambda r: r[columns[0]])


def tweet_field_errors(path: str) -> list[str]:
    """Hashtags and the zoned date parse in a tweets sink."""
    rows = _sink_rows(path, ["tweet_id", "text", "hashtags", "created_at", "created_at_ts"])
    return (field_errors("tweets.hashtags", rows, lambda r: hashtags(r["text"]),
                         lambda r: list(r["hashtags"] or []))
            + field_errors("tweets.created_at_ts", rows, lambda r: zoned_epoch(r["created_at"]),
                           lambda r: _ts_epoch(r["created_at_ts"])))


def ingest_field_errors(sinks: dict[str, str]) -> list[str]:
    """Hashtags and parsed dates in the three ingest sinks."""
    posts = _sink_rows(sinks["posts"], ["id", "created", "created_ts"])
    feeds = _sink_rows(sinks["feeds"], ["link", "published", "published_parsed", "published_ts"])
    return (tweet_field_errors(sinks["tweets"])
            + field_errors("posts.created_ts", posts, lambda r: simple_epoch(r["created"]),
                           lambda r: _ts_epoch(r["created_ts"]))
            + field_errors("feeds.published_ts", feeds,
                           lambda r: rss_epoch(r["published"], r["published_parsed"]),
                           lambda r: _ts_epoch(r["published_ts"])))


def union_find(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def quality_ok(text: str) -> bool:
    """Python twin of the curate quality gate."""
    return len(text) >= 40 and len(text.split(" ")) >= 8 and re.search("[a-z]", text) is not None


def curate_errors(docs: dict[int, str], pairs, comps: dict[int, int],
                  survivors: set[int]) -> list[str]:
    """CC labels equal union-find over the returned pairs, and survivors are
    the gated, exact-deduped docs minus every non-representative."""
    errors = []
    ref = union_find(pairs)
    if ref != comps:
        diff = sum(1 for k in set(ref) | set(comps) if ref.get(k) != comps.get(k))
        errors.append(f"curate: {diff} nodes labelled differently from union-find")
    first_by_text: dict[str, int] = {}
    for doc_id in sorted(docs):
        text = docs[doc_id]
        if quality_ok(text):
            first_by_text.setdefault(text, doc_id)
    expect = {d for d in first_by_text.values() if ref.get(d, d) == d}
    if expect != survivors:
        errors.append(f"curate: survivors differ from the reference "
                      f"({len(expect ^ survivors)} ids)")
    return errors


def exact_topk(corpus: np.ndarray, corpus_ids: np.ndarray, queries: np.ndarray,
               k: int) -> list[set[int]]:
    """Exact cosine top-k corpus ids per query (numpy, float64)."""
    c = corpus.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q = queries.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return [set(corpus_ids[row].tolist()) for row in top]
