"""bench.py's profile mode and its start gate.

The profile test runs one batch and one streaming query at sf0.001 with a
conf A/B and checks the record shape the mode promises: jobs and build
time per run, per-trigger progress for the stream, A,B / B,A warm order,
and the session conf restored afterwards, also when a query raises. The
gate test needs no Spark."""

from __future__ import annotations

import pytest

import bench

SF = bench.E.SF_SMOKE
KEY = "spark.sql.shuffle.partitions"


def test_profile_records_jobs_triggers_and_restores_conf(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    before = spark.conf.get(KEY)
    batch, stream = bench.profile(
        spark, ["pricing_summary", "stream_dedup_counts"], SF, {KEY: "3"}
    )
    assert spark.conf.get(KEY) == before

    for rec in (batch, stream):
        assert [r["arm"] for r in rec["runs"] if r["cold"]] == ["A", "B"]
        assert [r["arm"] for r in rec["runs"] if not r["cold"]] == ["A", "B", "B", "A"]
        assert set(rec["cold_s"]) == set(rec["warm_median_s"]) == {"A", "B"}
        assert rec["b_over_a"] > 0
    assert batch["checkpoints"] == 0
    for run in batch["runs"]:
        assert run["jobs"] >= 1
        assert run["build_s"] <= run["wall_s"]
    triggers = [t for run in stream["runs"] for t in run["triggers"]]
    assert triggers and all("triggerExecution" in t["durationMs"] for t in triggers)

    def boom(spark, sf_dir):
        if spark.conf.get(KEY) == "3":
            raise RuntimeError("arm B query failed")
        return spark.range(1)

    monkeypatch.setitem(bench._QUERIES, "boom", boom)
    with pytest.raises(RuntimeError, match="arm B"):
        bench.profile(spark, ["boom"], SF, {KEY: "3"})
    assert spark.conf.get(KEY) == before


def test_start_gate_ignores_idle_turbo_skew(monkeypatch):
    """An idle host with single-core turbo: the serial spin sits at the
    serial calibration while every pool worker runs 1.7x slower. Neither
    the start probe nor a mid-run probe at the same reading is contended;
    a slow serial reference still is."""
    calib = bench._PROBE_IDLE_CALIB_SEC
    monkeypatch.setattr(bench, "_spin", lambda n: calib)
    monkeypatch.setattr(bench, "_host_probe", lambda k: {
        "wall": 0.3, "worker_med": round(1.7 * calib, 4),
        "worker_max": round(1.8 * calib, 4), "loadavg": [0.2, 0.2, 0.2],
    })
    serial_ref, pre = bench._start_probe(8)
    assert serial_ref == calib
    assert not pre["contended"]
    assert not bench._gated_probe(8, pre["pool_ref"], "q0")["contended"]

    monkeypatch.setattr(bench, "_spin", lambda n: 1.6 * calib)
    assert bench._start_probe(8)[1]["contended"]
