"""Sources — S1/S2 of the reference surface, batch and streaming.

The reference subscribes to Kafka topics with typed JSON records
(``src/rss_consumer.py:33-37`` etc.). Engine restatement: explicit-schema
readers (never ``inferSchema`` — SURVEY.md §1.3). Kafka needs a broker, so the
streaming tests use file sources with the same ``from_json`` decode path; the
Kafka reader is the same function with a different format string.

Scale: JSON decode happens once at the edge; everything downstream is
columnar. For parquet scans, pass ``columns`` to prune at the reader so the
scan's ReadSchema only carries what the query needs.

Parallelism: this is the only module that lists input files. One lister
(``_data_file_lengths``: Hadoop FS client, recursive, hidden names skipped)
feeds both sizing policies: ``spread``, the batch gate that round-robins an
under-split input to the core count (``load_table`` applies it to the
compute-bound tables), and ``input_bytes``, which
``streams.stream_state_partitions`` turns into a byte-sized stream
partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: testdata columns stored as parquet INT64 TIMESTAMP(NANOS), which Spark's
#: vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL). Read them as
#: raw nanos longs (legacy.parquet.nanosAsLong) and rebuild the timestamp
#: with exact integer arithmetic — `div 1000` truncates ns→µs the same way
#: DuckDB's TIMESTAMP_NS→µs conversion does. Float division would lose
#: precision on 19-digit epoch-nanos.
NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}

#: tables whose queries run per-row compute kernels (regex / minhash /
#: vector folds) heavy enough to be worth parallelizing at load — see the
#: spread note in load_table
_SPREAD_TABLES = frozenset({"documents", "embeddings"})

#: parquet schema per table path — populated on first read (see load_table)
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def read_parquet(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


#: name prefixes of the files and directories Spark's file index skips
#: (``_SUCCESS``, ``_temporary``, ``.crc`` sidecars, ...)
_HIDDEN = ("_", ".")


def _data_file_lengths(spark: SparkSession, paths: list[str]):
    """Lengths of the data files under ``paths``, lazily, from metadata
    only (no Spark job): each path is globbed and its directories listed
    recursively through the Hadoop FileSystem client (any scheme; the files
    under a ``partitionBy`` table's ``k=v/`` directories count), skipping
    names that start with ``_`` or ``.`` as Spark's file index does. A path
    is read as Hadoop's ``Path`` (and so ``spark.read``) reads it: a URI is
    not percent-decoded. A missing path lists nothing; an unreachable
    filesystem raises the FS client's error. Callers stop folding early, so
    a source of 10^5 files never pays one py4j round trip per file."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    for p in paths:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        fs = jp.getFileSystem(conf)
        for st in fs.globStatus(jp) or []:
            if not st.isDirectory():
                if not st.getPath().getName().startswith(_HIDDEN):
                    yield st.getLen()
                continue
            root = len(st.getPath().toString())
            files = fs.listFiles(st.getPath(), True)
            while files.hasNext():
                f = files.next()
                below = f.getPath().toString()[root:].split("/")
                if not any(name.startswith(_HIDDEN) for name in below):
                    yield f.getLen()


def estimated_file_splits(spark: SparkSession, paths: list[str], stop_at: int) -> int:
    """Scan-split estimate from file metadata ONLY — no Spark job:
    Σ max(1, ceil(len/maxPartitionBytes)) over the data files, stopping
    once the count reaches ``stop_at``. Parquet row-group granularity means
    the TRUE split count can be lower for huge single-row-group files —
    acceptable: such files are a layout bug this estimate shouldn't reward,
    and testdata files are all sub-split-size (estimate exact)."""
    max_bytes = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = 0
    for n in _data_file_lengths(spark, paths):
        splits += max(1, -(-n // max_bytes))
        if splits >= stop_at:
            break
    return splits


def input_bytes(spark: SparkSession, paths: list[str], stop_at: int) -> int:
    """Bytes of the data files under ``paths``, stopping once the sum
    reaches ``stop_at``."""
    total = 0
    for n in _data_file_lengths(spark, paths):
        total += n
        if total >= stop_at:
            break
    return total


def spread(df: DataFrame) -> DataFrame:
    """CPU-parallelism guard: round-robin ``df`` to ``defaultParallelism``
    partitions when its input yields fewer splits than cores.

    Compute-bound per-row kernels (regex/minhash/vector folds, the
    bootstrap's B hashes per row) need tasks per core, and single-row-group
    parquet arrives as ONE split (observed: whole text pipelines and 10 s+
    vector stages running (0+1)/1 at sf0.1 on local[32]). At production
    sizes the scan exceeds core count in splits and this is a no-op. Row
    order is never load-bearing, so this is placement-only; apply it to the
    raw scan so the per-row math lands after the exchange.

    Never ``.rdd.getNumPartitions()`` on a file plan: under AQE that runs a
    Spark job per QUERY BUILD (r4 fix). The decision is metadata-only:
     1. the plan already carries a Repartition → no-op;
     2. file-backed plan → ``estimated_file_splits`` (no job);
     3. non-file plan (in-memory input) → the parallelized RDD's static
        partition count (no AQE stages underneath, the probe is free)."""
    if "Repartition" in df._jdf.queryExecution().analyzed().toString():
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        splits = estimated_file_splits(spark, list(files), target)
    else:
        splits = df.rdd.getNumPartitions()
    return df.repartition(target) if splits < target else df


#: ``load_table``'s ``spread`` keyword shadows the function in its body
_spread = spread


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked through the Hadoop FileSystem client
    (any scheme; a bare path resolves against the default filesystem, as
    ``spark.read`` resolves it). ``os.path.exists`` is False for every
    URI, ``file:`` ones included."""
    jvm = spark.sparkContext._jvm
    jp = jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(jp)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
    spread: bool = True,
) -> DataFrame:
    """Read one testdata table, normalizing nanos-timestamp columns to
    proper ``TimestampType`` so every downstream operator sees real
    timestamps regardless of the writer's parquet flavor.

    Both confs below are already session defaults in
    ``session.build_session``; they are re-asserted here (idempotently)
    because the correctness driver runs these queries under ITS OWN
    SparkSession, which doesn't go through our factory — without UTC +
    nanosAsLong the events scan fails outright (PARQUET_TYPE_ILLEGAL) or
    drifts by the session timezone."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # parquet flavor varies by generator run: TIMESTAMP(NANOS) needs the
    # raw-longs escape hatch; TIMESTAMP(MICROS, isAdjustedToUTC=false) would
    # infer as TIMESTAMP_NTZ (no numeric casts) unless inference is off
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ts_cols = NANOS_TS_COLUMNS.get(name, [])
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema-inference fires a (tiny but real) footer-read job on EVERY
    # spark.read.parquet call; cache the inferred schema so only the first
    # read of a table pays it and every later query build is job-free.
    # Keyed per path: immutable testdata, and a changed file would be a
    # new sf_dir. (r4: this was ~600 pointless jobs per bench session.)
    key = f"{sf_dir}/{name}.parquet"
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(key)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(key)
    for c in ts_cols:
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # session tz is UTC, so this cast preserves the wall-clock value
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    # Only the compute-bound tables are spread (see ``spread``):
    # documents/embeddings feed per-row regex/minhash/vector kernels that
    # dominate their queries. Relational tables (lineitem/orders/events) go
    # straight into keyed joins/aggregations that shuffle on their OWN keys
    # — a round-robin exchange before them is pure overhead (measured:
    # +0.6-1.5 s per TPC-H-shape query at sf0.1 with no compute to
    # parallelize). ``spread=False`` opts out for consumers that impose
    # their OWN partitioning immediately (e.g. a keyed repartition feeding
    # a partitionBy sink) — a round-robin exchange before theirs is pure
    # double-shuffle (measured: partitioned_sink 0.93 s → 0.41 s at sf0.1)
    if spread and name in _SPREAD_TABLES:
        df = _spread(df)
    return df.select(*columns) if columns else df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` as a file-source STREAM with ``ts`` normalized to
    ``TimestampType`` whichever parquet flavor the generator used (INT64
    nanos → exact integer ns→µs truncation; MICROS/NTZ → plain cast under
    the UTC session). Mirrors ``load_table``'s batch normalization so the
    streaming twins see byte-identical event times."""
    load_table(spark, sf_dir, "events")  # asserts session confs, caches the schema
    raw_schema = _SCHEMA_CACHE[f"{sf_dir}/events.parquet"]
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
    )
    dtype = dict(stream.dtypes).get("ts")
    if dtype == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def decode_json_value(df: DataFrame, schema: T.StructType, value_col: str = "value") -> DataFrame:
    """Kafka-style decode: a binary/string ``value`` column → typed columns
    (``from_json(value, schema)``), the S1 mapping."""
    return df.select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("rec")
    ).select("rec.*")


def read_kafka_stream(
    spark: SparkSession, brokers: str, topic: str, schema: T.StructType
) -> DataFrame:
    """S1 — Kafka topic → typed streaming DataFrame. Requires a broker and
    the spark-sql-kafka package at runtime; kept thin so the decode path is
    shared with the file-source tests."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
    )
    return decode_json_value(raw, schema)


def read_json_stream(
    spark: SparkSession, path: str, schema: T.StructType, max_files: int = 10
) -> DataFrame:
    """File-source streaming twin of ``read_kafka_stream`` (used by tests —
    no broker in this environment)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )
