"""Interleaved same-session A/B of RUNTIME SQL confs over registry queries.

The r14 lesson (committed to OPTIMIZATION_r14.md): this host shows ±20-30%
CPU steal with multi-minute drifts, so cross-run comparisons lie — the only
trustworthy comparison is A/B *interleaved within one session*, alternating
the conf per repetition so both arms sample the same host weather. Runtime
SQL confs (planner flags like ``spark.sql.join.preferSortMergeJoin``) take
effect at plan time, and every registry query function rebuilds its
DataFrame per call, so flipping the conf between calls genuinely replans.

Usage:
    python tools/ab_conf.py --conf k=v [--conf k2=v2] [--reps 3] \
        [--queries q1,q2,... | --headline] [--streaming]

Arm A = session defaults; arm B = the given confs. Each query first runs
once untimed under each arm (warmup), then per rep the order is
A,B (rep even) / B,A (rep odd) to cancel drift. Caches are released after
EVERY run (cold-path comparison, identical for both arms). Output: one
line per query with per-arm medians + ratio, then a geomean summary.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from ingestion_scripts_spark.caching import release_caches
from ingestion_scripts_spark.session import build_session


def main() -> None:
    args = sys.argv[1:]
    confs: dict[str, str] = {}
    reps = 3
    names: list[str] = []
    use_headline = False
    use_streaming = False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--conf":
            k, v = args[i + 1].split("=", 1)
            confs[k] = v
            i += 2
        elif a == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif a == "--queries":
            names.extend(args[i + 1].split(","))
            i += 2
        elif a == "--headline":
            use_headline = True
            i += 1
        elif a == "--streaming":
            use_streaming = True
            i += 1
        else:
            names.append(a)
            i += 1
    assert confs, "need at least one --conf k=v"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = build_session(
        app_name="ab-conf", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if use_headline:
        import bench

        names.extend(n for n in bench.HEADLINE if n in qs)
    if use_streaming:
        import bench

        names.extend(n for n in bench.STREAMING if n in qs)
    names = [n for n in names if n in qs]

    defaults = {k: spark.conf.get(k, None) for k in confs}

    def set_arm(b: bool) -> None:
        for k, v in confs.items():
            if b:
                spark.conf.set(k, v)
            elif defaults[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, defaults[k])

    qs["pricing_summary"](spark, sf_dir).collect()  # warmup

    ratios = []
    tot_a = tot_b = 0.0
    for name in names:
        # per-query warmup under BOTH arms' confs (r15 fix): the FIRST-ever
        # run of a query pays plan codegen + JIT that no later run pays, and
        # the alternation order (A,B / B,A) put that cold run in arm A for
        # every query — the first full-bench A/B read geomean 0.85 from
        # cold-start bias alone (warm-only re-analysis: 1.00). A conf that
        # changes the plan has its own first-run cost, so each arm gets one
        # untimed run before the timed alternation.
        for arm_b in (False, True):
            set_arm(arm_b)
            spark.sparkContext.setJobDescription(
                f"ab:{name}:warmup:{'B' if arm_b else 'A'}"
            )
            qs[name](spark, sf_dir).collect()
            release_caches()
        ta, tb = [], []
        for r in range(reps):
            order = (False, True) if r % 2 == 0 else (True, False)
            for arm_b in order:
                set_arm(arm_b)
                spark.sparkContext.setJobDescription(
                    f"ab:{name}:{'B' if arm_b else 'A'}"
                )
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                (tb if arm_b else ta).append(dt)
                release_caches()
        set_arm(False)
        ma, mb = statistics.median(ta), statistics.median(tb)
        tot_a += ma
        tot_b += mb
        ratios.append(mb / ma)
        print(
            f"{name}: A={ma:.3f}s B={mb:.3f}s B/A={mb / ma:.3f}"
            f" (A: {','.join(f'{x:.2f}' for x in ta)} |"
            f" B: {','.join(f'{x:.2f}' for x in tb)})",
            flush=True,
        )
    if ratios:
        geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        print(
            f"SUMMARY n={len(ratios)} geomean(B/A)={geo:.4f} "
            f"totalA={tot_a:.1f}s totalB={tot_b:.1f}s "
            f"wins(B faster)={sum(1 for r in ratios if r < 0.95)} "
            f"losses={sum(1 for r in ratios if r > 1.05)}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
