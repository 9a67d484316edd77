"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` under ``.bench_work/`` in
the repository root, builds a ``local[4]`` session, runs one untimed cold
pass, measures for ``--seconds``, checks the outputs and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it is the full
run record (host, inputs, sample counts, check messages). With
``--trace 1`` the metrics are the per-layer ones and the spans are written
to ``.bench_work/results/``. Metric names and units are read from
``BENCHMARK.json`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_SAMPLES = 7


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "stream", "curate", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["small", "tiny"], default="small")
    return ap.parse_args(argv)


def metric_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and the per-layer metrics, as
    ``BENCHMARK.json`` beside ``perfbench/`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def cpu_probe_ms() -> float:
    """Median wall time of a fixed pure-Python loop: a run-relative check of
    how fast the host ran this process at start and end (recorded, never
    used to scale a metric)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[1]


def host_record(args) -> dict:
    return {"nproc": os.cpu_count(), "loadavg_start": list(os.getloadavg()),
            "cpu_probe_ms_start": cpu_probe_ms(),
            "python": platform.python_version(), "git_commit": git_commit(),
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "cores": CORES}


def inputs_record(manifest: dict) -> dict:
    return {k: v for k, v in manifest.items()
            if k in ("input_bytes", "records", "replay_share", "redelivery_share",
                     "exact_dup_share", "near_dup_share")}


def shutdown(engine) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    engine.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ingestion_scripts_spark")):
        print("perfbench: the ingestion_scripts_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    from perfbench import gen
    from perfbench.harness import Engine, Tracer, median
    from perfbench.workloads import WORKLOADS

    end_to_end, per_layer = metric_units()
    record = {"host": host_record(args)}
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traced = bool(args.trace)
    engine = Engine(CORES, work)
    try:
        manifest = gen.generate(args.workload, os.path.join(work, "input"), args.seed, args.scale)
        record["inputs"] = inputs_record(manifest)
        cold_build = engine.start()
        record["host"].update(engine.versions())
        tracer = Tracer(engine, run_id, traced)
        wl = WORKLOADS[args.workload](engine, tracer, manifest, work)
        wl.run(args.seconds, traced)
        wl.check()
        res = wl.result()
        record["peak_rss_mb"] = engine.peak_rss_mb()
        if traced:
            layers = dict.fromkeys(per_layer, 0)
            layers.update(wl.layers())
            layers["session.cold_build_s"] = cold_build
            layers["run.peak_rss_mb"] = record["peak_rss_mb"]
            warm = layers["run.warm_pass_s"]
            engine.restart(1)
            layers["spark.parallel_speedup"] = wl.baseline_pass() / warm if warm else 0.0
        # set-up is sampled last, once the run has warmed the JVM the same
        # way every time: early samples followed the JIT more than the code
        setup = engine.setup_samples(SETUP_SAMPLES)
        e2e = {"setup_s": median(setup), "memory_mb": wl.memory_mb,
               "throughput_per_s": res["throughput_per_s"],
               "latency_p50_s": res["latency_p50_s"]}
        record["end_to_end"] = e2e
        record["samples"] = {"setup": len(setup), **{k: v for k, v in res.items()
                                                     if k not in e2e}}
        record["throughput_unit"] = wl.unit
        record["outputs"] = wl.extra
        if traced:
            layers["session.build_s"] = median(setup)
            record["per_layer"] = layers
            tracer.dump(os.path.join(ROOT, ".bench_work", "results", f"{run_id}.spans.json"))
            out_metrics, units = layers, per_layer
        else:
            out_metrics, units = e2e, end_to_end
    finally:
        shutdown(engine)
        shutil.rmtree(work, ignore_errors=True)
    record["host"]["loadavg_end"] = list(os.getloadavg())
    record["host"]["cpu_probe_ms_end"] = cpu_probe_ms()
    record["errors"] = wl.pass_errors + wl.errors
    print(json.dumps({"record": record}, default=float))
    print(json.dumps({
        "correct": not record["errors"],
        "attempted": wl.attempted,
        "failed": wl.failed + len(wl.errors),
        "metrics": {k: {"value": float(out_metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
