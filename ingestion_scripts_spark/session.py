"""SparkSession factory with scale-oriented defaults.

The engine targets a large multi-executor cluster reading ~100 TB; locally it
runs ``local[N]``. The knobs below are the ones that matter at both scales:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- explicit ``spark.sql.shuffle.partitions`` (callers size it to cores locally;
  on a cluster you'd size to ~2-3x total cores),
- Arrow enabled for the few pandas_udf operators,
- broadcast threshold left at default so small dims (region/nation/supplier)
  auto-broadcast; operators additionally hint ``F.broadcast`` where the small
  side is known statically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds this package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "ingestion-scripts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold, and let AQE rewrite SMJ→SHJ at runtime when every
        # post-shuffle partition is under 64 MiB (guide §3.1/§9; optimization
        # r15). Bounded, not guaranteed: the static path fires only under
        # the planner's build-side size conditions and the AQE rewrite only
        # when every post-shuffle partition is under the 64 MiB threshold,
        # so the SHJ OOM risk sort-merge avoids is limited by those
        # estimates, which skewed or mis-estimated inputs can defeat.
        # Adopted from a full-bench interleaved A/B (292 queries, per-query
        # warmup, reps=2): geomean 0.978, 103 wins / 58 losses, the largest
        # being the iterative join-heavy er_canonical_entities 10.2→8.2 s;
        # sorts drop out of SMJ pipelines (plans/r15/*_{before,after}.txt).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers import from their own path, not the driver's
        # sys.path; UDFs that reference this package by name need it there
        # whatever directory the process started in. PySpark merges this
        # into each worker's PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is parquet TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as raw nanos longs session-wide
        # (only affects NANOS columns — micros timestamps are untouched)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata may instead ship TIMESTAMP(MICROS, isAdjustedToUTC=false),
        # which Spark 4 infers as TIMESTAMP_NTZ by default; read it as a
        # plain UTC timestamp so numeric casts / unix_* work and the values
        # match DuckDB's naive-timestamp reading of the same file
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # no [Stage N:>...] bars splitting result lines in logs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

