"""Structured Streaming variants of the pipelines (SURVEY.md §2.8).

Reference semantics restated:
- delivery: Kafka at-least-once + unique-index dedup →
  checkpointed micro-batches whose streaming ``dropDuplicates`` state store
  is the unique index (``run_to_table``; effectively-once).
- the ``links`` dedup state (``src/rss_consumer.py:56-65``, stale-refresh bug
  and all) → EITHER a stream-static anti join (static side re-read every
  micro-batch — the bug fixed for free) OR streaming ``dropDuplicates``
  state, selectable per pipeline.
- no watermarks exist in the reference; the engine adds watermarked tumbling
  windows + session windows over event streams as first-class ops because any
  100 TB ingest needs late-data policy.

Replay harness: every availableNow registry stream runs through two
helpers. ``ordered_batches(frames, src)`` turns a list of DataFrames into a
file-source stream that delivers them one trigger each, in list order.
``run_available_now(stream, sink, checkpoint, mode=, size_from=)`` drains a
stream into a memory sink or a ``foreachBatch`` callable with the shuffle/
state partition count scoped to the input bytes (``stream_state_partitions``,
which measures them with ``sources.readers.input_bytes``, the same lister
behind the batch spread gate).
"""

from __future__ import annotations

from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import anti_join_dedup
from ..operators.sink import with_audit
from ..sources.readers import input_bytes, path_exists


def stream_dedup_by_key(stream: DataFrame, key: str, use_state: bool = False,
                        existing: DataFrame | None = None) -> DataFrame:
    """J1 streaming: drop records whose key was already seen.

    ``use_state=True`` → streaming ``dropDuplicates`` (state store, exact
    within watermark); else the stream-static ``anti_join_dedup`` against
    ``existing`` (re-read per micro-batch)."""
    if use_state:
        return stream.dropDuplicates([key])
    assert existing is not None
    return anti_join_dedup(stream, existing, key)


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )


def session_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
) -> DataFrame:
    """Native session windows (gap-based) — the streaming twin of the batch
    gaps-and-islands ``sessionize`` query."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


#: Logical operators that neither duplicate rows nor rebind attributes:
#: a ``Deduplicate`` under a chain of them still makes the root distinct
#: on its keys (by ``exprId``).
_KEY_PRESERVING = frozenset({"Project", "Filter", "SubqueryAlias", "EventTimeWatermark"})


def _distinct_on(stream: DataFrame, keys: list[str]) -> bool:
    """Whether ``stream``'s analyzed plan proves it distinct on ``keys``:
    from the root, through ``_KEY_PRESERVING`` nodes only, a
    ``Deduplicate`` whose key attributes are, by ``exprId``, a subset of
    the root's ``keys`` attributes. A renamed or recomputed key gets a new
    ``exprId`` and fails the proof, as does any join, ``Generate``,
    ``Union`` or ``DeduplicateWithinWatermark`` on the way (Catalyst's
    ``distinctKeys`` is empty for a streaming ``Deduplicate``, so it cannot
    answer this). Raises ``AnalysisException`` for a key ``stream`` lacks."""
    key_ids = {stream._jdf.resolve(k).exprId().id() for k in keys}
    node = stream._jdf.queryExecution().analyzed()
    while node.getClass().getSimpleName() in _KEY_PRESERVING:
        node = node.children().apply(0)
    if node.getClass().getSimpleName() != "Deduplicate":
        return False
    dedup = node.keys()
    return all(dedup.apply(i).exprId().id() in key_ids for i in range(dedup.size()))


def run_to_table(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Append ``stream`` to the parquet table at ``path`` with the
    ``insert_date`` audit column (K2), each key at most once (K3), with
    checkpointing; ``availableNow`` drains existing input then stops (used
    in tests and backfills).

    The stream's own checkpointed ``dropDuplicates`` state store is the
    unique index. It is added here only when ``_distinct_on`` cannot prove
    the stream distinct on ``keys`` (Spark would keep a second
    ``StreamingDeduplicate`` on the same key, a per-trigger cost); an
    unknown key raises here, not at the first trigger. Keys already in the
    sink when the query starts are honored through a key snapshot taken
    once at this call: its file index is fixed, so triggers never re-read
    the sink. Contract:

    - within one query, the state store owns uniqueness;
    - keys in the sink at start are never written again. That keeps replay
      idempotent: Spark replays a batch only after a restart, a restart is
      a new ``run_to_table`` call, and its snapshot holds whatever the lost
      attempt appended;
    - a second writer appending into the same sink while the query runs is
      not guarded.

    Checkpoints are tied to the plan: a stream that gained the added
    ``dropDuplicates`` cannot restart from a checkpoint written without it.
    """
    spark = stream.sparkSession
    if not _distinct_on(stream, keys):
        stream = stream.dropDuplicates(keys)
    existing = spark.read.parquet(path).select(*keys) if path_exists(spark, path) else None

    def write(batch: DataFrame, batch_id: int) -> None:
        if existing is not None:
            batch = batch.join(existing, keys, "left_anti")
        with_audit(batch).write.mode("append").parquet(path)

    q = stream.writeStream.foreachBatch(write).option("checkpointLocation", checkpoint)
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def write_kafka_stream(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    value_cols: list[str] | None = None,
) -> StreamingQuery:
    """K1 — inter-app Kafka handoff (``await topic.send``, e.g.
    ``src/rss_consumer.py:72``). Inside the engine the reference's
    intermediate topics collapse into one DataFrame DAG; this sink exists
    only for the cross-app boundary. Serializes selected columns as one
    JSON object per message (the reference's record serializer). Requires a
    broker + the spark-sql-kafka package at runtime (not in this container)."""
    payload = df.select(
        F.to_json(F.struct(*[F.col(c) for c in (value_cols or df.columns)])).alias("value")
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stateful_user_counts(
    stream: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-key event
    counter that survives across micro-batches — the engine's template for
    arbitrary keyed state (rate limiting, running dedup, decayed counters)
    beyond what windows/dropDuplicates express.

    Emits one row per key per trigger: (key, n_new in this batch,
    running_total across all batches). State is one bigint per key —
    bounded, partitioned by the shuffle on ``key``, checkpointed with the
    query; at 1000 executors each task owns its key range's state store.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} bigint, n_new bigint, running_total bigint"
    state_schema = "total bigint"

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        n = 0
        for pdf in pdfs:
            n += len(pdf)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_new": [n], "running_total": [total]}
        )

    return stream.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def tws_user_counts(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """The SAME per-key counter on Spark 4's arbitrary-state v2 API
    (``transformWithStateInPandas`` + ``ValueState``) — the successor to
    ``applyInPandasWithState`` with composite state types, timers, and
    (on a cluster) the RocksDB state store with changelog checkpointing.
    Both APIs are kept: v1 is what most deployed jobs run today, v2 is
    where stateful pipelines are heading.

    Requires the RocksDB state store provider (set by the caller for the
    query's session; the HDFS-backed default does not support v2 state).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "cnt BIGINT")

        def handleInputRows(self, key_tuple, rows, timerValues):
            n = 0
            for pdf in rows:
                n += len(pdf)
            prev = self._count.get()
            total = (prev[0] if prev else 0) + n
            self._count.update((total,))
            yield pd.DataFrame(
                {key: [key_tuple[0]], "n_new": [n], "running_total": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key).transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType=f"{key} bigint, n_new bigint, running_total bigint",
        outputMode="Update",
        timeMode="None",
    )


def quota_admit(
    stream: DataFrame,
    key: str,
    order_col: str,
    quota: int,
) -> DataFrame:
    """Streaming per-key quota admission (rate limiting at ingest): each
    key admits at most ``quota`` rows over the stream's lifetime; later
    rows are dropped. The streaming form of domain caps — stop pulling
    from a source once its budget is spent, while the stream keeps
    flowing for everyone else.

    State is ONE bigint per key (rows admitted so far) — bounded,
    partitioned by the key shuffle, checkpointed. Rows inside a batch
    are admitted in ``order_col`` order so replay is deterministic;
    across batches, arrival (trigger) order decides — both together
    give the closed-form law the oracle replays: admit_rank =
    row_number over (key, [batch order, order_col]) <= quota.

    Emits (key, order_col, admit_rank) for admitted rows only.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} string, {order_col} bigint, admit_rank bigint"
    state_schema = "admitted bigint"

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        admitted = state.get[0] if state.exists else 0
        room = max(0, quota - admitted)
        take = batch.iloc[:room]
        state.update((admitted + len(take),))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]] * len(take),
                order_col: take[order_col].tolist(),
                "admit_rank": [admitted + i + 1 for i in range(len(take))],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def token_bucket_admit(
    stream: DataFrame,
    key: str,
    epoch_col: str,
    seq_col: str,
    cap_mt: int = 3000,
    cost_mt: int = 1000,
    rate_mt: int = 1000,
    per_s: int = 36000,
) -> DataFrame:
    """Streaming token-bucket admission (``applyInPandasWithState``) —
    the live form of ``operators/ratelimit.py::token_bucket_replay``,
    sharing its EXACT integer law (milli-tokens, floor-division refill)
    so a batch replay of the same events is the oracle.

    State per key: (tokens_mt, last_es, n_events, n_admitted) — four
    bigints, bounded, checkpointed. Rows inside a batch walk in
    (epoch, seq) order; correctness across batches therefore requires
    time-ordered batch arrival (the normal Kafka/file-age case — the
    quota_admit caveat). Emits the running (key, n_events, n_admitted,
    tokens_end_mt) each batch in update mode; the final emission per key
    equals the batch replay."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} bigint, n_events bigint, n_admitted bigint, tokens_end_mt bigint"
    )
    state_schema = "tokens bigint, last_es bigint, n_ev bigint, n_adm bigint"

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([epoch_col, seq_col], kind="mergesort")
        if state.exists:
            tokens, last_es, n_ev, n_adm = state.get
        else:
            tokens, last_es, n_ev, n_adm = cap_mt, None, 0, 0
        for es in batch[epoch_col].astype("int64"):
            es = int(es)
            if last_es is not None:
                tokens = min(cap_mt, tokens + ((es - last_es) * rate_mt) // per_s)
            last_es = es
            n_ev += 1
            if tokens >= cost_mt:
                tokens -= cost_mt
                n_adm += 1
        state.update((tokens, last_es, n_ev, n_adm))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_events": [n_ev],
                "n_admitted": [n_adm],
                "tokens_end_mt": [tokens],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# ---------------------------------------------------------------------------
# Scale-adaptive shuffle/state partitioning for streaming queries
# (optimization r15, guide §2.2: "fewer, larger reduce partitions", made
# adaptive to input size rather than a constant tuned for either local
# mode or the cluster)
# ---------------------------------------------------------------------------

#: Target stream-input bytes per shuffle (= state-store) partition. Every
#: stateful micro-batch commits ONE state store per operator-store per
#: shuffle partition per trigger — a fixed delta-file create + fsync in the
#: checkpoint directory regardless of how many rows the store holds. A
#: stream-stream join carries 4 stores/partition, so the session default of
#: shuffle_partitions=cores meant 128 store commits per trigger for
#: KB-sized state (measured r15: stream_outer_join spent 350 s of summed
#: commitTimeMs per near-empty trigger; partitions 32→2 took the query
#: 16.1 s → 4.7 s with byte-identical results). 32 MiB of input per
#: partition keeps in-memory state per partition comfortably bounded
#: (state entries blow up ~4x over parquet bytes → ~128 MiB per store,
#: the guide's 100 MB-1 GB partition band) while collapsing the
#: over-sharded tiny-state regime to a handful of stores.
STREAM_PARTITION_TARGET_BYTES = 32 << 20


def stream_state_partitions(spark: SparkSession, *paths: str) -> int:
    """Shuffle/state partition count for ONE streaming query, derived from
    the stream's actual input bytes: ``ceil(bytes / target)``, floored at 1
    and CAPPED at the session's configured ``spark.sql.shuffle.partitions``
    (the cluster-sized value on a real deployment — this helper only ever
    lowers over-sharding, never raises beyond the session's own sizing).

    ``paths`` are the stream's source files/directories, measured by
    ``readers.input_bytes`` (the engine's one input lister: Hadoop FS
    client, any scheme, metadata-only, hidden/metadata files such as
    ``_SUCCESS`` and ``.crc`` excluded), which stops listing at the cap's
    worth of bytes. A path that does not exist counts 0 bytes. A path whose
    filesystem cannot be reached (no client for ``s3a://``, an unknown
    ``hdfs://`` namenode) sizes to the cap: counting it as 0 bytes would
    pin ONE partition, and the checkpoint makes a state partition count
    sticky.

    Scale shape: at bench SFs inputs are KB-MB → 1 partition (per-trigger
    work is milliseconds; parallelism buys nothing and 32x state-store
    commits cost seconds). At production volumes ``bytes/target`` exceeds
    any cluster's shuffle setting and the cap keeps full parallelism —
    the knob adapts DOWN only, exactly the AQE-coalesce behavior stateful
    streaming exchanges cannot get from AQE itself.
    """
    import math

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_bytes = input_bytes(spark, list(paths), stop_at=cap * STREAM_PARTITION_TARGET_BYTES)
    except (Py4JJavaError, IllegalArgumentException):
        return cap
    return max(1, min(cap, math.ceil(n_bytes / STREAM_PARTITION_TARGET_BYTES)))


class scoped_shuffle_partitions:
    """Context manager: set ``spark.sql.shuffle.partitions`` for the
    duration of one streaming query (set → start → awaitTermination →
    restore). Stateful queries pin their state partition count from this
    conf at first-batch planning, so the scope must cover ``start()``;
    ``run_available_now`` runs synchronously (availableNow +
    awaitTermination), so restoring on exit cannot race a live trigger.
    foreachBatch bodies inherit the scoped value for their inner batch
    jobs — the same over-sharding argument applies to their per-trigger
    KB-sized joins."""

    def __init__(self, spark: SparkSession, n: int) -> None:
        self._spark = spark
        self._n = n

    def __enter__(self) -> None:
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)


# ---------------------------------------------------------------------------
# Replay harness: every availableNow registry stream is ordered_batches (or
# any other source) -> operator -> run_available_now
# ---------------------------------------------------------------------------


def ordered_batches(frames: list[DataFrame], src: str) -> DataFrame:
    """Replay ``frames`` as one file-source micro-batch each, in list order.

    Each frame is written ``coalesce(1)`` to ``src/b{i}``. The file source
    orders candidate files by modification time, so the part files' mtimes
    are pinned ascending in list order — the natural order (path, write
    time) is never trusted. The returned stream reads ``src`` recursively
    with the first frame's schema and ``maxFilesPerTrigger=1``: one trigger
    per frame. An empty frame still writes one (empty) file and so still
    gets its own trigger, which is how a replay inserts the empty batch
    that advances a lagged watermark."""
    import glob
    import os
    import time

    now = time.time()
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
        t = now - 50 * (len(frames) - i)
        for p in glob.glob(f"{src}/b{i}/*.parquet"):
            os.utime(p, (t, t))
    return (
        frames[0].sparkSession.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )


def run_available_now(
    stream: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    mode: str = "append",
    size_from: tuple[str, ...] | None = None,
) -> DataFrame | None:
    """Drain ``stream`` once: start an ``availableNow`` query checkpointed
    at ``checkpoint`` in output ``mode`` and wait for it to terminate. A
    failing query (e.g. a raising ``foreachBatch``) raises here.

    ``sink`` is ``"memory"`` — a memory sink under a generated query name,
    returned as ``spark.table(name)`` — or a ``foreachBatch`` callable
    ``(batch_df, batch_id)``, in which case None is returned.

    ``size_from`` lists the stream's source paths. While the query runs,
    ``spark.sql.shuffle.partitions`` (= the state partition count, fixed
    at first-batch planning) is scoped to
    ``stream_state_partitions(spark, *size_from)`` and restored afterwards,
    also on failure; ``foreachBatch`` bodies inherit the scoped value for
    their KB-sized inner joins. ``size_from=None`` leaves the session conf
    untouched, i.e. core-sized partitions. That is right only for streams
    whose cost is per-group Python work rather than per-partition store
    commits: the user-keyed ``applyInPandasWithState`` streams
    (``stream_stateful_counts``, ``stream_token_bucket``) run ~|users|
    Python groups per trigger, and byte sizing serialized that work
    (measured r15: partitions 32→1 took them 2.9 s → 5.5 s and
    5.2 s → 8.3 s while every JVM-stateful stream improved; guide §4
    boundary cost). ``stream_quota_admission`` is Python-stateful too but
    keyed by source — a schema-bounded handful of groups — so store commits
    dominate and byte sizing wins (4.2 s → 1.7 s)."""
    import contextlib
    import uuid

    spark = stream.sparkSession
    writer = (
        stream.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    name = None
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif sink == "memory":
        name = "available_now_" + uuid.uuid4().hex[:8]
        writer = writer.format("memory").queryName(name)
    else:
        raise ValueError(f"sink must be 'memory' or a foreachBatch callable, got {sink!r}")
    scope = (
        contextlib.nullcontext()
        if size_from is None
        else scoped_shuffle_partitions(spark, stream_state_partitions(spark, *size_from))
    )
    with scope:
        writer.start().awaitTermination()
    return None if name is None else spark.table(name)
