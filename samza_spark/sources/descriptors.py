"""Connector descriptors: declarative source/sink definitions.

Each descriptor mirrors a Samza system (SURVEY.md §2.6) and produces either
a batch DataFrame (``read``) or a streaming one (``read_stream``) — the same
descriptor serves Samza's STREAM and BATCH application modes
(/root/reference samza-core/.../config/ApplicationConfig.java:44-46).

Startpoints (samza-api/.../startpoint/StartpointSpecific/Timestamp/Oldest/
Upcoming.java) map to Kafka ``startingOffsets`` / ``startingOffsetsByTimestamp``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from samza_spark.operators.stream import MessageStream


@dataclass
class Startpoint:
    """Where to begin consumption (samza-api/.../startpoint/*.java)."""

    mode: str = "oldest"  # oldest | upcoming | specific | timestamp
    offsets_json: str | None = None  # specific: Kafka offsets JSON
    timestamp_ms: int | None = None

    def kafka_option(self) -> tuple[str, str]:
        if self.mode == "oldest":
            return "startingOffsets", "earliest"
        if self.mode == "upcoming":
            return "startingOffsets", "latest"
        if self.mode == "specific":
            return "startingOffsets", self.offsets_json or "earliest"
        if self.mode == "timestamp":
            return "startingTimestamp", str(self.timestamp_ms)
        raise ValueError(self.mode)


@dataclass
class FileSource:
    """File-system source (HDFS/S3/local; parquet/avro/json/csv).

    Samza analog: samza-hdfs AvroFileHdfsReader/MultiFileHdfsReader with
    directory-as-stream partitioning (partitioner/DirectoryPartitioner.java).
    Streaming reads use Spark's file source (``maxFilesPerTrigger`` replaces
    per-block offsets — checkpointed file lists give the same replayability).
    """

    path: str
    fmt: str = "parquet"
    schema: object | None = None  # StructType or DDL string; required for streams
    options: Mapping[str, str] = field(default_factory=dict)
    max_files_per_trigger: int | None = None

    def _load(self, reader, spark: SparkSession | None = None):
        try:
            return MessageStream(reader.load(self.path))
        except Exception as exc:
            if self.fmt == "avro" and "avro" in str(exc).lower():
                if spark is not None:  # batch read: pure-Python OCF fallback
                    from samza_spark.formats.avro_py import read_avro

                    return MessageStream(
                        read_avro(spark, self.path, self.options.get("avroSchema"))
                    )
                raise NotImplementedError(
                    "streaming Avro needs the spark-avro package jar (Avro is "
                    "an external Spark module); submit with --packages "
                    "org.apache.spark:spark-avro_2.13:<spark-version>. Batch "
                    "reads fall back to the built-in pure-Python OCF codec "
                    "(samza_spark.formats.avro_py; reference parity: "
                    "samza-hdfs Avro readers/writers)"
                ) from exc
            raise

    def read(self, spark: SparkSession) -> MessageStream:
        reader = spark.read.format(self.fmt).options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return self._load(reader, spark)

    def read_stream(self, spark: SparkSession) -> MessageStream:
        if self.schema is None:
            raise ValueError("streaming file source requires an explicit schema")
        reader = spark.readStream.format(self.fmt).schema(self.schema).options(**self.options)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return self._load(reader)


@dataclass
class FileSink:
    """File sink with time/date bucketing.

    Samza analog: samza-hdfs writers with Bucketer/JobNameDateTimeBucketer
    (samza-hdfs/.../writer/Bucketer.scala) — ``partition_by`` date columns
    replace the bucketing path scheme.
    """

    path: str
    fmt: str = "parquet"
    mode: str = "append"
    partition_by: Sequence[str] = ()
    checkpoint: str | None = None
    options: Mapping[str, str] = field(default_factory=dict)

    def write(self, df: DataFrame):
        if df.isStreaming:
            writer = df.writeStream.format(self.fmt).outputMode(self.mode).options(**self.options)
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            if self.checkpoint:
                writer = writer.option("checkpointLocation", self.checkpoint)
            return writer.start(self.path)
        writer = df.write.format(self.fmt).mode(self.mode).options(**self.options)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.save(self.path)
        except Exception as exc:
            if self.fmt == "avro" and "avro" in str(exc).lower():
                # jar-less fallback: pure-Python OCF, one file per partition.
                # It must honor the same sink contract as the jar path:
                # partitioned layouts aren't implemented, and write modes
                # map to explicit directory handling (append would
                # otherwise silently mix stale part files into overwrite).
                import os
                import shutil

                from samza_spark.formats.avro_py import write_avro

                if self.partition_by:
                    raise NotImplementedError(
                        "partition_by requires the spark-avro jar; the "
                        "jar-less OCF fallback writes flat part files"
                    ) from exc
                exists = os.path.isdir(self.path) and os.listdir(self.path)
                if self.mode in ("error", "errorifexists") and exists:
                    raise FileExistsError(
                        f"{self.path} exists and mode={self.mode!r}"
                    ) from exc
                if self.mode == "ignore" and exists:
                    return None
                if self.mode == "overwrite" and os.path.isdir(self.path):
                    shutil.rmtree(self.path)
                write_avro(df, self.path, self.options.get("avroSchema"))
                return None
            raise
        return None


@dataclass
class KafkaSource:
    """Kafka source (KafkaSystemConsumer.java:44-65 analog). EventHubs'
    Kafka-compatible endpoint goes through this same descriptor
    (SURVEY.md §2.6). Requires the spark-sql-kafka package on the classpath;
    availability is probed at call time so the engine degrades gracefully
    in environments without the connector jar."""

    bootstrap_servers: str
    topic: str
    startpoint: Startpoint = field(default_factory=Startpoint)
    options: Mapping[str, str] = field(default_factory=dict)

    def _configure(self, reader):
        k, v = self.startpoint.kafka_option()
        return (
            reader.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", self.topic)
            .option(k, v)
            .options(**self.options)
        )

    def read_stream(self, spark: SparkSession) -> MessageStream:
        return MessageStream(self._configure(spark.readStream).load())

    def read(self, spark: SparkSession) -> MessageStream:
        return MessageStream(self._configure(spark.read).load())


@dataclass
class KafkaSink:
    """Kafka sink (KafkaSystemProducer.scala analog). The Samza ``__key__``
    convention (SamzaSqlRelMessage.java:39) maps to the ``key`` column."""

    bootstrap_servers: str
    topic: str
    checkpoint: str | None = None
    options: Mapping[str, str] = field(default_factory=dict)

    def write(self, df: DataFrame):
        target = (
            df.writeStream if df.isStreaming else df.write
        ).format("kafka").option("kafka.bootstrap.servers", self.bootstrap_servers).option(
            "topic", self.topic
        ).options(**self.options)
        if df.isStreaming:
            if self.checkpoint:
                target = target.option("checkpointLocation", self.checkpoint)
            return target.start()
        target.save()
        return None


# Kafka wire schema as Spark's kafka source emits it — the contract the
# config-only connectors above produce/consume. MemorySource rows in this
# shape exercise the full mapping without a broker.
KAFKA_WIRE_DDL = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def from_kafka_records(df: DataFrame, value_schema, key_alias: str = "__key__") -> DataFrame:
    """Kafka wire rows -> Samza-SQL-shaped rows: the record key surfaces as
    the ``__key__`` field (SamzaSqlRelMessage.java:39 KEY_NAME convention),
    the JSON value decodes into columns, and the consumer metadata
    (topic/partition/offset/timestamp) rides along — the projection
    KafkaSystemConsumer.java:44-65 feeds into IncomingMessageEnvelope."""
    parsed = df.select(
        F.col("key").cast("string").alias(key_alias),
        F.from_json(F.col("value").cast("string"), value_schema).alias("__v"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )
    return parsed.select(key_alias, "__v.*", "topic", "partition", "offset", "timestamp")


def to_kafka_records(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Samza-SQL-shaped rows -> Kafka producer rows (key/value) for
    KafkaSink: ``key_col`` (the ``__key__`` field) becomes the record key,
    every other column JSON-encodes into the value
    (KafkaSystemProducer.scala send path; SamzaSqlRelMessage key split)."""
    payload_cols = [c for c in df.columns if c != key_col]
    value = F.to_json(F.struct(*payload_cols)).alias("value")
    if key_col is None:
        return df.select(value)
    return df.select(F.col(key_col).cast("string").alias("key"), value)


@dataclass
class MemorySource:
    """In-memory test system (samza-core/.../system/inmemory/, the TestRunner
    input side — samza-test/.../framework/TestRunner.java:96-382)."""

    rows: Sequence
    schema: object

    def read(self, spark: SparkSession) -> MessageStream:
        return MessageStream(spark.createDataFrame(self.rows, self.schema))


@dataclass
class RateSource:
    """Synthetic load source (perf harness analog, BASELINE.md #1)."""

    rows_per_second: int = 10_000
    num_partitions: int | None = None

    def read_stream(self, spark: SparkSession) -> MessageStream:
        reader = spark.readStream.format("rate").option("rowsPerSecond", self.rows_per_second)
        if self.num_partitions:
            reader = reader.option("numPartitions", self.num_partitions)
        return MessageStream(reader.load())


@dataclass
class MemorySink:
    """Collectable sink for tests (TestRunner.consumeStream analog)."""

    name: str
    output_mode: str = "append"

    def write(self, df: DataFrame):
        if df.isStreaming:
            return (
                df.writeStream.format("memory")
                .queryName(self.name)
                .outputMode(self.output_mode)
                .start()
            )
        # batch writes APPEND (union with any prior batch), mirroring the
        # reference's in-memory sink accumulating messages across commits
        spark = df.sparkSession
        if any(t.name == self.name for t in spark.catalog.listTables()):
            df = spark.table(self.name).unionByName(df)
        df.createOrReplaceTempView(self.name)
        return None

    def collect(self, spark: SparkSession):
        return spark.sql(f"SELECT * FROM {self.name}").collect()


@dataclass
class ConsoleSink:
    num_rows: int = 20

    def write(self, df: DataFrame):
        if df.isStreaming:
            return df.writeStream.format("console").option("numRows", self.num_rows).start()
        df.show(self.num_rows)
        return None


@dataclass
class ElasticsearchSink:
    """Bulk-indexing sink (ElasticsearchSystemProducer.java analog,
    DefaultIndexRequestFactory index/type/id mapping).

    The es-hadoop connector jar is not in this environment; the writer
    buffers per micro-batch and hands bulk payloads to ``bulk_fn`` (an
    injected HTTP client in production, a recorder in tests)."""

    index: str
    id_col: str | None = None
    bulk_fn: object = None  # Callable[[list[dict]], None] — runs ON EXECUTORS
    checkpoint: str | None = None
    max_actions_per_bulk: int = 1000  # flushMaxActions analog

    def write(self, df: DataFrame):
        index, id_col, bulk_fn = self.index, self.id_col, self.bulk_fn
        max_actions = self.max_actions_per_bulk
        if bulk_fn is None:
            raise NotImplementedError(
                "es-hadoop jar not available in this environment; inject bulk_fn"
            )

        # Bulk actions are built and flushed EXECUTOR-side, one client per
        # partition (ElasticsearchSystemProducer keeps one BulkProcessor per
        # source; flushMaxActions bounds each request). The driver never
        # sees a row — at 100 TB the write path scales with executors.
        def send_partition(rows) -> None:
            actions = []
            for row in rows:
                d = row.asDict(recursive=True)
                actions.append(
                    {
                        "_index": index,
                        **({"_id": d[id_col]} if id_col else {}),
                        "_source": d,
                    }
                )
                if len(actions) >= max_actions:
                    bulk_fn(actions)
                    actions = []
            if actions:
                bulk_fn(actions)

        def send(batch: DataFrame, _epoch: int) -> None:
            batch.foreachPartition(send_partition)

        if df.isStreaming:
            writer = df.writeStream.foreachBatch(send)
            if self.checkpoint:
                writer = writer.option("checkpointLocation", self.checkpoint)
            return writer.start()
        send(df, 0)
        return None


@dataclass
class AzureBlobAvroSink:
    """Avro-container blob sink (AzureBlobAvroWriter.java:84-135 analog:
    Avro records compressed into container blobs, one blob per task, size-
    bounded). One .avro file per partition via the pure-Python OCF codec
    (deflate compression matching the reference's GZIP-class default), so
    the path works without the spark-avro jar.

    PATH RESTRICTION: blobs are opened with plain ``open()`` inside
    ``foreachPartition``, so ``path`` must be a POSIX path visible to
    every executor at the same location — local mode or a shared mount
    (NFS/FUSE, or abfss/hdfs exposed through a FUSE driver). Raw
    ``abfss://``/``hdfs://`` URIs need a JVM writer (spark-avro +
    hadoop-azure); this sink is the jar-less analog, not a replacement.
    ``max_records_per_blob`` maps to the reference's maxRecordsPerBlob:
    partitions larger than it roll over to a new blob."""

    path: str
    codec: str = "deflate"
    max_records_per_blob: int | None = None

    def write(self, df: DataFrame):
        import itertools
        import os as _os
        import uuid as _uuid

        from samza_spark.formats.avro_py import spark_to_avro_schema, write_ocf

        if df.isStreaming:
            return df.writeStream.foreachBatch(
                lambda batch, _epoch: self.write(batch)
            ).start()
        schema = spark_to_avro_schema(df.schema, "topLevelRecord")
        path, codec, cap = self.path, self.codec, self.max_records_per_blob
        _os.makedirs(path, exist_ok=True)

        def write_partition(rows) -> None:
            it = (r.asDict(recursive=True) for r in rows)
            while True:
                head = list(itertools.islice(it, 1))
                if not head:
                    return
                blob_rows = itertools.chain(
                    head, itertools.islice(it, (cap - 1) if cap else None)
                )
                fname = _os.path.join(path, f"blob-{_uuid.uuid4().hex}.avro")
                with open(fname, "wb") as f:
                    write_ocf(f, schema, blob_rows, codec=codec)
                if cap is None:
                    return

        df.foreachPartition(write_partition)
        return None


@dataclass
class KinesisSource:
    """AWS Kinesis source descriptor (KinesisSystemConsumer.java analog,
    samza-aws/ — source only, like the reference; shard -> partition and
    sequence number -> offset follow its SystemStreamPartition mapping).

    Three deployment paths:
    - the spark-sql-kinesis connector jar (format 'aws-kinesis') — not in
      this environment;
    - a Kinesis->Kafka bridge consumed via :class:`KafkaSource`;
    - an **injectable client** (tests, or a lightweight boto3 bridge): an
      object with ``list_shards(stream)`` and ``get_records(stream,
      shard_id)`` yielding dicts with ``sequence_number``,
      ``partition_key``, ``data`` (bytes) and ``approximate_arrival``.
      Records are spooled to parquet (driver-side — bounded by what the
      client yields per drain, the consumer-prefetch analog) and served
      as a file stream with the Kinesis wire columns.
    """

    stream: str
    region: str = "us-east-1"
    startpoint: Startpoint = field(default_factory=Startpoint)
    client: object | None = None
    spool_dir: str | None = None
    _spooled: str | None = field(default=None, repr=False, compare=False)

    WIRE_SCHEMA = (
        "shard_id string, sequence_number string, partition_key string, "
        "data binary, approximate_arrival timestamp, stream string"
    )

    def _spool(self, spark: SparkSession) -> str:
        import tempfile

        # one drain per descriptor instance: read()/read_stream() share the
        # first drain's spool — mode('append') into a fixed spool_dir would
        # otherwise duplicate every record on the second call
        if self._spooled is not None:
            return self._spooled
        spool = self.spool_dir or tempfile.mkdtemp(prefix="ss_kinesis_")
        rows = [
            (
                sid,
                str(rec["sequence_number"]),
                rec.get("partition_key", ""),
                rec["data"],
                rec.get("approximate_arrival"),
                self.stream,
            )
            for sid in self.client.list_shards(self.stream)
            for rec in self.client.get_records(self.stream, sid)
        ]
        spark.createDataFrame(rows, self.WIRE_SCHEMA).write.mode("append").parquet(
            f"{spool}/data"
        )
        self._spooled = spool
        return spool

    def _require_client(self):
        if self.client is None:
            raise NotImplementedError(
                "Kinesis requires the spark-sql-kinesis connector jar "
                "(format 'aws-kinesis'), a Kinesis->Kafka bridge consumed via "
                "KafkaSource, or an injectable client; none is configured "
                "(reference parity: samza-aws is likewise an optional module)"
            )

    def read_stream(self, spark: SparkSession) -> MessageStream:
        self._require_client()
        spool = self._spool(spark)
        return MessageStream(
            spark.readStream.schema(self.WIRE_SCHEMA).parquet(f"{spool}/data")
        )

    def read(self, spark: SparkSession) -> MessageStream:
        self._require_client()
        spool = self._spool(spark)
        return MessageStream(spark.read.parquet(f"{spool}/data"))

    @staticmethod
    def as_kafka_wire(df: DataFrame) -> DataFrame:
        """Re-shape Kinesis columns onto the engine's Kafka wire contract
        (__key__/value/topic/partition/offset/timestamp): partition = the
        shard's dense index, offset = per-shard arrival rank by sequence
        number — the KinesisSystemConsumer SSP/offset mapping."""
        from pyspark.sql import Window

        shard_ix = F.dense_rank().over(Window.orderBy("shard_id")) - 1
        # real Kinesis sequence numbers are ~56-digit integers — casting to
        # any decimal overflows to NULL (non-ANSI) and scrambles offsets.
        # length-then-lexicographic ordering equals numeric ordering for
        # non-negative integer strings of any size.
        offset = (
            F.row_number().over(
                Window.partitionBy("shard_id").orderBy(
                    F.length("sequence_number"), F.col("sequence_number")
                )
            )
            - 1
        )
        return df.select(
            F.col("partition_key").alias("__key__"),
            F.col("data").alias("value"),
            F.col("stream").alias("topic"),
            shard_ix.cast("int").alias("partition"),
            offset.cast("long").alias("offset"),
            F.col("approximate_arrival").alias("timestamp"),
        )


@dataclass
class EventHubsSource(KafkaSource):
    """Azure Event Hubs via its Kafka-compatible endpoint
    (EventHubSystemConsumer.java analog — SURVEY.md §2.6 maps EventHubs
    onto format("kafka")). ``namespace`` fills in the bootstrap servers and
    the SASL/SSL options Event Hubs requires; ``connection_string`` goes
    into the JAAS config."""

    namespace: str = ""
    connection_string: str = ""

    def _configure(self, reader):
        reader = super()._configure(reader)
        if self.namespace:
            reader = reader.option(
                "kafka.bootstrap.servers", f"{self.namespace}.servicebus.windows.net:9093"
            )
        if self.connection_string:
            jaas = (
                "org.apache.kafka.common.security.plain.PlainLoginModule required "
                f'username="$ConnectionString" password="{self.connection_string}";'
            )
            reader = (
                reader.option("kafka.security.protocol", "SASL_SSL")
                .option("kafka.sasl.mechanism", "PLAIN")
                .option("kafka.sasl.jaas.config", jaas)
            )
        return reader


def bootstrap_table(spark, source, key_cols, schema=None, spool_dir: str | None = None):
    """Bootstrap-stream semantics (BootstrappingChooser.scala analog,
    SURVEY.md §2.6): fully consume a source into a LocalTable BEFORE the
    main query starts, then use the table as a lookup side. For a batch
    descriptor this is just a read; for a streaming descriptor the stream
    is drained with Trigger.AvailableNow into parquet spool files and read
    back — rows go executor -> files -> executor and NEVER materialize on
    the driver, so an arbitrarily large bootstrap stream works (the
    reference's BootstrappingChooser likewise streams through, it doesn't
    buffer the stream in one process). Without ``spool_dir`` the spool
    lives under :func:`samza_spark.spool.spool_dir`, removed at exit."""
    from samza_spark.spool import spool_dir as scratch_dir
    from samza_spark.tables.local import LocalTable

    if hasattr(source, "read"):
        try:
            return LocalTable(source.read(spark).df, key_cols)
        except Exception:
            pass  # fall through to streaming drain
    stream = source.read_stream(spark)
    spool = spool_dir or scratch_dir("ss_bootstrap_")
    q = (
        stream.df.writeStream.format("parquet")
        .option("path", f"{spool}/data")
        .option("checkpointLocation", f"{spool}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # schema from the stream itself, so a zero-row drain still yields a
    # well-typed (empty) table
    base = spark.read.schema(schema or stream.df.schema).parquet(f"{spool}/data")
    return LocalTable(base, key_cols)


@dataclass
class SamzaLogSource:
    """Descriptor over the engine-native replayable partitioned log
    (:mod:`samza_spark.sources.log_datasource` — the SystemConsumer/
    offset-manifest DataSource). Batch read scans the whole log; the
    stream honors startpoints (oldest/upcoming/specific/timestamp) and
    maxRecordsPerTrigger pacing."""

    path: str
    startpoint: str = "oldest"
    startpoint_offsets: "str | None" = None
    startpoint_timestamp_ms: "int | None" = None
    max_records_per_trigger: "int | None" = None

    def _register(self, spark: SparkSession) -> None:
        from samza_spark.sources.log_datasource import SamzaLogDataSource

        try:
            spark.dataSource.register(SamzaLogDataSource)
        except Exception:
            pass  # already registered in this session

    def _options(self, reader):
        reader = reader.option("path", self.path).option(
            "startpoint", self.startpoint
        )
        if self.startpoint_offsets:
            reader = reader.option("startpointOffsets", self.startpoint_offsets)
        if self.startpoint_timestamp_ms is not None:
            reader = reader.option(
                "startpointTimestampMs", str(self.startpoint_timestamp_ms)
            )
        if self.max_records_per_trigger:
            reader = reader.option(
                "maxRecordsPerTrigger", str(self.max_records_per_trigger)
            )
        return reader

    def read(self, spark: SparkSession) -> MessageStream:
        self._register(spark)
        return MessageStream(
            self._options(spark.read.format("samza_log")).load()
        )

    def read_stream(self, spark: SparkSession) -> MessageStream:
        self._register(spark)
        return MessageStream(
            self._options(spark.readStream.format("samza_log")).load()
        )


@dataclass
class SamzaLogSink:
    """Descriptor over the transactional log producer
    (:func:`samza_spark.sources.log_datasource.log_sink` — the
    SystemProducer half: executor-staged blocks, write-ahead intent,
    manifest-rename commit, batch-id fencing for exactly-once replay).

    Batch writes run as one foreachBatch-shaped transaction with the
    DataFrame's own epoch (batch id 0 unless given); streaming writes go
    through ``writeStream.foreachBatch`` so every micro-batch commits
    atomically and replays are no-ops. The input needs ``key`` /
    ``value`` (/ optional ``timestamp_ms``) columns — the log's wire
    schema, same as the source side."""

    path: str
    sink_id: str = "sink"
    n_partitions: int = 4
    checkpoint: "str | None" = None
    key_col: str = "key"
    value_col: str = "value"
    ts_col: "str | None" = "timestamp_ms"

    def _writer(self):
        from samza_spark.sources.log_datasource import log_sink

        return log_sink(
            self.path,
            sink_id=self.sink_id,
            n_partitions=self.n_partitions,
            key_col=self.key_col,
            value_col=self.value_col,
            ts_col=self.ts_col if self.ts_col else None,
        )

    def write(self, df: DataFrame, batch_id: int = 0):
        w = self._writer()
        if df.isStreaming:
            writer = df.writeStream.foreachBatch(w)
            if self.checkpoint:
                writer = writer.option("checkpointLocation", self.checkpoint)
            return writer.start()
        w(df, batch_id)
        return None


def from_debezium_records(
    df: DataFrame,
    row_schema,
    value_col: str = "value",
) -> DataFrame:
    """Debezium change-event envelopes -> the engine's CDC change shape.

    Parses the public Debezium JSON envelope ``{"before": ..., "after":
    ..., "op": "c|u|d|r", "ts_ms": ...}`` (the format every Kafka-Connect
    CDC source emits; a Samza deployment tails exactly these topics) into
    rows ``(<row columns>, op, seq)`` where ``op`` is the engine's
    I/U/D alphabet (``c``/``r`` -> I, ``u`` -> U, ``d`` -> D — snapshot
    reads are idempotent upserts) and ``seq = ts_ms`` orders changes for
    last-wins application. Deletes carry the ``before`` image (Debezium
    puts ``after: null`` on deletes), so the key columns survive.

    The output feeds :func:`samza_spark.pipeline.versioning.merge_upsert`
    (batch) or the streaming foreachBatch CDC apply unchanged. Pure
    ``from_json`` projection — streaming-safe, JVM-side.
    """
    envelope = (
        f"struct<before: {row_schema}, after: {row_schema}, "
        "op: string, ts_ms: bigint>"
        if isinstance(row_schema, str)
        else None
    )
    if envelope is None:
        import pyspark.sql.types as T

        envelope = T.StructType(
            [
                T.StructField("before", row_schema),
                T.StructField("after", row_schema),
                T.StructField("op", T.StringType()),
                T.StructField("ts_ms", T.LongType()),
            ]
        )
    parsed = df.select(
        F.from_json(F.col(value_col).cast("string"), envelope).alias("__e")
    )
    image = F.when(
        F.col("__e.op") == "d", F.col("__e.before")
    ).otherwise(F.col("__e.after"))
    op = (
        F.when(F.col("__e.op") == "d", F.lit("D"))
        .when(F.col("__e.op") == "u", F.lit("U"))
        .otherwise(F.lit("I"))  # c (create) and r (snapshot read)
    )
    return parsed.select(
        image.alias("__row"),
        op.alias("op"),
        F.col("__e.ts_ms").alias("seq"),
    ).select("__row.*", "op", "seq")
