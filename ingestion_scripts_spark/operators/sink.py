"""Sinks — K2 (audit-columned append), K3 (keyed idempotent write), K4
(dead-letter split).

The reference enforces idempotence with Mongo unique indexes that reject
duplicate keys, errors swallowed (``src/rss_consumer.py:53,166-169``;
``src/twitter_consumer.py:44,117-119``). Spark restatement, batch form:
in-batch ``dropDuplicates(keys)`` + left-anti join against the existing
table, then append (``idempotent_append``); a ``foreachBatch`` body may call
it per micro-batch (SURVEY.md §4.3).

Stream form (``streaming.streams.run_to_table``): the stream's checkpointed
``dropDuplicates`` state store is the unique index, so a trigger appends its
batch without reading the sink. Contract: within one query the state store
owns uniqueness; keys in the sink when the query starts are honored through
a key snapshot taken once at start, which also keeps replay after a restart
idempotent; a second writer appending into the same sink while the query
runs is not guarded.

Scale: the anti-join's existing-keys side reads ONLY the key columns (column
pruning reaches the parquet scan); for very large sinks partition the table
on a key prefix so the join prunes partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timefns import audit_timestamp
from ..sources.readers import path_exists


def with_audit(df: DataFrame, col_name: str = "insert_date") -> DataFrame:
    """K2 — append the ``insert_date`` audit column
    (``src/rss_consumer.py:165-166``)."""
    return df.withColumn(col_name, audit_timestamp())


def idempotent_append(
    df: DataFrame,
    path: str,
    keys: list[str],
    audit: bool = True,
) -> None:
    """K3 — keyed idempotent append to a parquet table at ``path``.

    Semantics of the reference unique index: a key already present never gets
    a second row; within the incoming batch the first (arbitrary but
    in-batch-deduped) row wins.

    The existing-key anti-join carries no broadcast hint: the key set grows
    with the sink, so Catalyst broadcasts only when the pruned key scan is
    under ``autoBroadcastJoinThreshold``, and AQE can upgrade the shuffled
    plan at runtime.

    ``path`` may be any Hadoop URI (``file:``, ``hdfs:``, ``s3a:``) or a
    bare path on the default filesystem. The existing keys are not
    deduplicated: a left-anti join's output does not depend on how often
    a key repeats on the right.
    """
    spark = df.sparkSession
    batch = df.dropDuplicates(keys)
    if path_exists(spark, path):
        existing = spark.read.parquet(path).select(*keys)
        batch = batch.join(existing, keys, "left_anti")
    if audit:
        batch = with_audit(batch)
    batch.write.mode("append").parquet(path)


def dead_letter_split(
    df: DataFrame, good_condition, observe_name: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """K4 — split into (good, dead_letter) DataFrames.

    The reference wraps every agent body in ``try/except: log`` and drops bad
    records (e.g. ``src/rss_consumer.py:95-98``). Engine convention: parsing/
    UDF stages yield NULL on failure; this operator routes rows by the
    ``good_condition`` predicate and optionally attaches ``observe`` counters
    so dead-letter volume is measurable without a second pass.
    """
    if observe_name:
        df = df.observe(
            observe_name,
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(good_condition, 0).otherwise(1)).alias("dead"),
        )
    good = df.filter(good_condition)
    dead = df.filter(~good_condition | good_condition.isNull())
    return good, dead


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    batch_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    version: str = "version",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge — the versioned-history
    generalization of the reference's keyed Mongo upsert (K3): instead of
    rejecting the duplicate key, close the open version and append a new
    one stamped ``batch_ts``.

    Pure DataFrame restatement of MERGE: one keyed join of the update
    batch against OPEN versions decides changed/unchanged; the output is
    union(untouched ∪ closed old versions ∪ new versions). Everything is
    keyed shuffle + union — no driver loop, no window over the whole dim —
    so it scales with the dimension like any co-partitioned join. At
    warehouse scale both sides would be bucketed by ``key`` to make the
    join exchange-free.
    """
    data_cols = [c for c in current.columns if c not in (valid_from, valid_to, version)]
    open_rows = current.filter(F.col(valid_to).isNull())
    closed_rows = current.filter(F.col(valid_to).isNotNull())

    diff = None
    for c in tracked:
        d = ~F.col(f"u.{c}").eqNullSafe(F.col(f"c.{c}"))
        diff = d if diff is None else (diff | d)

    j = updates.alias("u").join(open_rows.alias("c"), on=key, how="inner")
    changed_keys = j.filter(diff).select(key, *[F.col(f"c.{version}").alias(version)])

    # close the open version of every changed key at batch_ts
    closing = (
        open_rows.alias("c")
        .join(changed_keys.alias("k"), on=key, how="left_semi")
        .withColumn(valid_to, F.lit(batch_ts))
    )
    untouched_open = open_rows.alias("c").join(
        changed_keys.alias("k"), on=key, how="left_anti"
    )
    # new version rows carry the update's attributes
    fresh = (
        j.filter(diff)
        .select(
            key,
            *[F.col(f"u.{c}").alias(c) for c in data_cols if c != key],
            (F.col(f"c.{version}") + 1).alias(version),
        )
        .withColumn(valid_from, F.lit(batch_ts))
        .withColumn(valid_to, F.lit(None).cast("string"))
    )
    out_cols = [key] + [c for c in data_cols if c != key] + [version, valid_from, valid_to]
    return (
        closed_rows.select(*out_cols)
        .unionByName(untouched_open.select(*out_cols))
        .unionByName(closing.select(*out_cols))
        .unionByName(fresh.select(*out_cols))
    )


def compact_segments(
    segments: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
) -> DataFrame:
    """LSM-style index/segment compaction: given the union of index
    segments where each row is (key..., seq, op, payload...), keep only
    the row with the highest ``seq`` per key (latest segment wins), then
    drop keys whose surviving op is a tombstone.

    This is the batch twin of the dedup-index maintenance path
    (operators/dedup.py::minhash_incremental_pairs persists per-segment
    band buckets): periodic compaction folds N segments + tombstones
    into one, so lookups join ONE segment instead of N.

    Scale shape: one row_number window partitioned by the key (a single
    keyed shuffle — no join, no global sort). Ties on ``seq`` within a
    key break to the tombstone first (a delete and an upsert in the SAME
    segment means the delete wins), then are deterministic via the op
    string ordering.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(seq_col),
        F.when(F.col(op_col) == delete_op, 0).otherwise(1).asc(),
        F.asc(op_col),
    )
    return (
        segments.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .where(F.col(op_col) != delete_op)
        .drop("__rn")
    )
