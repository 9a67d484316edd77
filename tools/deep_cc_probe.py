"""Bounded-heap deep-iteration probe for release_local_checkpoint
(VERDICT r10 item 5): run alternating-star connected components on a
64M-edge graph whose diameter forces ~20+ rounds, inside a SMALL (8 GiB)
driver/executor heap, while a sampler thread records the PEAK number of
persistent RDDs in the BlockManager.

Pass criteria (printed as one JSON line):
- completes without OOM on the 8 GiB heap (the r10 leak OOMed 8 GiB at
  16M edges / ~10 rounds — 64M x 20 rounds is ~8x that block volume);
- peak_rdds - baseline_rdds <= 4: at any instant the loop may hold the
  symmetrized input, all_nodes, the current round's checkpoint and the
  next one mid-swap — the GENERATION-LAG bound; one-per-round growth is
  the leak this pins (tests/test_r11_checkpoint_generation.py carries the in-suite
  generation-bounded twin on a small graph).

Usage: python tools/deep_cc_probe.py [--edges N] [--chain L] [--heap 8g]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

# this checkout's root, so a copy of the repo runs its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ingestion_scripts_spark.session import build_session


def main() -> None:
    args = sys.argv[1:]

    def opt(name, default):
        if name in args:
            i = args.index(name)
            return args[i + 1]
        return default

    n_edges = int(opt("--edges", "64000000"))
    chain_len = int(opt("--chain", "1048576"))  # 2^20 -> ~20 star rounds
    heap = opt("--heap", "8g")

    spark = build_session(
        app_name="deep-cc-probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": heap},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from ingestion_scripts_spark.operators.dedup import connected_components_star

    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    peak = [baseline]
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            peak[0] = max(peak[0], jsc.getPersistentRDDs().size())
            time.sleep(0.25)

    t = threading.Thread(target=poll, daemon=True)
    t.start()

    edges = (
        spark.range(n_edges)
        .where(F.col("id") % chain_len != chain_len - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    t0 = time.perf_counter()
    n_comp = (
        connected_components_star(edges, max_iter=26)
        .agg(F.countDistinct("comp").alias("nc"))
        .collect()[0][0]
    )
    wall = round(time.perf_counter() - t0, 1)
    stop.set()
    t.join(timeout=2)
    print(
        json.dumps(
            {
                "probe": "deep_cc_64m",
                "edges": n_edges,
                "chain_len": chain_len,
                "heap": heap,
                "n_components": n_comp,
                "wall_s": wall,
                "baseline_rdds": baseline,
                "peak_rdds": peak[0],
                "generation_lag_ok": peak[0] - baseline <= 4,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
