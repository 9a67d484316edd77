"""The benchmark's own tests.

    python -m pytest -q perfbench/tests

The checker and generator tests are pure Python. ``test_smoke`` runs every
workload end to end at the ``tiny`` scale (one Spark process each, a few
minutes in total) and requires every output check to pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, reference  # noqa: E402
from perfbench.run import metric_units  # noqa: E402

END_TO_END, PER_LAYER = metric_units()


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generators_are_seeded(tmp_path, workload):
    a = gen.generate(workload, str(tmp_path / "a"), 7, "tiny")
    b = gen.generate(workload, str(tmp_path / "b"), 7, "tiny")
    c = gen.generate(workload, str(tmp_path / "c"), 8, "tiny")
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["input_bytes"] == b["input_bytes"] > 0
    assert c["records"] == a["records"]


def _write_part(path: str, name: str, keys: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"tweet_id": keys}), os.path.join(path, name))


def test_sink_checker_passes_clean_sink(tmp_path):
    sink = str(tmp_path / "sink")
    _write_part(sink, "part-0.parquet", ["t1", "t2"])
    _write_part(sink, "part-1.parquet", ["t3"])
    keys = reference.read_sink(sink, ["tweet_id"])["tweet_id"]
    assert reference.sink_key_errors("tweets", keys, ["t1", "t2", "t3", "t2"]) == []


def test_sink_checker_fails_on_injected_duplicate_key(tmp_path):
    sink = str(tmp_path / "sink")
    _write_part(sink, "part-0.parquet", ["t1", "t2"])
    _write_part(sink, "part-1.parquet", ["t3"])
    _write_part(sink, "part-2.parquet", ["t2"])  # the injected duplicate
    keys = reference.read_sink(sink, ["tweet_id"])["tweet_id"]
    errors = reference.sink_key_errors("tweets", keys, ["t1", "t2", "t3"])
    assert errors == ["tweets: 1 duplicate sink keys"]


def test_sink_checker_fails_on_missing_and_foreign_keys():
    errors = reference.sink_key_errors("posts", ["p1", "p9"], ["p1", "p2"])
    assert len(errors) == 2


def test_union_find_follows_chains():
    assert reference.union_find([(3, 4), (1, 2), (2, 3), (7, 8)]) == {
        1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_curate_reference_flags_wrong_labels():
    docs = {1: "alpha " * 10, 2: "alpha " * 10, 3: "beta gamma " * 6, 4: "$$ !!"}
    assert reference.curate_errors(docs, [], {}, {1, 3}) == []
    assert reference.curate_errors(docs, [(1, 3)], {1: 1, 3: 3}, {1, 3})


def test_date_and_hashtag_references():
    assert reference.hashtags("go #AI, #big_data! #😀 x#y") == ["AI", "big_data", "y"]
    assert reference.zoned_epoch("2021-01-01 00:00:00+02:00") == \
        reference.zoned_epoch("2021-01-01 00:00:00+0200") == 1609452000.0
    assert reference.rss_epoch("Fri, 01 Jan 2021 00:00:00 GMT", None) == 1609459200.0
    assert reference.rss_epoch("Fri, 01 Jan 2021 02:00:00 +0200", None) == 1609459200.0
    assert reference.rss_epoch("x", [2021, 1, 1, 0, 0, 0, 4, 1, 0]) == 1609459200.0


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=900, cwd=ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_smoke(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload,layers", [
    ("stream", ["streaming.triggers", "functions.enrich_s", "sink.append_s"]),
    ("search", ["similarity.topk_s", "dedup.pairs_s", "dedup.cc_s", "dedup.cc_jobs"]),
])
def test_smoke_traced(workload, layers):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(PER_LAYER)
    for name in layers:
        assert res["metrics"][name]["value"] > 0, name


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f), "rb") as src:
                (bench / f).write_bytes(src.read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search", "--seed",
                        "1", "--seconds", "1", "--trace", "0"],
                       capture_output=True, text=True, timeout=120, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
