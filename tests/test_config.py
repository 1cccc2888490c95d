"""Samza .properties config compatibility (samza_spark.config): parsing,
stream-id indirection, factory->descriptor mapping, store resolution —
the reference user's deployment artifact ported unchanged (key model per
JobConfig/TaskConfig/SystemConfig/StorageConfig; shapes mirror
samza-test/src/main/config/)."""

import pytest

from samza_spark.config import JobConfig, parse_properties

PROPS = """
# job
job.name=page-stats
job.factory.class=org.apache.samza.job.yarn.YarnJobFactory
yarn.container.count=4

task.inputs=kafka.pageviews,profileStream
task.outputs=kafka.page-stats-out
task.window.ms=2000
task.max.messages=1000000

systems.kafka.samza.factory=org.apache.samza.system.kafka.KafkaSystemFactory
systems.kafka.samza.offset.default=oldest
systems.kafka.consumer.bootstrap.servers=broker1:9092,broker2:9092
systems.kafka.samza.key.serde=string
systems.kafka.samza.msg.serde=json

systems.testmem.samza.factory=org.apache.samza.system.inmemory.InMemorySystemFactory

streams.profileStream.samza.system=testmem
streams.profileStream.samza.physical.name=profiles

stores.joiner-state.factory=org.apache.samza.storage.kv.RocksDbKeyValueStorageEngineFactory
stores.joiner-state.key.serde=string
stores.joiner-state.msg.serde=string
stores.joiner-state.changelog=kafka.joiner-state-changelog
stores.scratch.factory=org.apache.samza.storage.kv.inmemory.InMemoryKeyValueStorageEngineFactory

serializers.registry.string.class=org.apache.samza.serializers.StringSerdeFactory
"""


def test_parse_properties_format():
    p = parse_properties(
        "# comment\n! also comment\na=1\nb : two\ncont=start\\\nend\nbare\n"
    )
    assert p == {"a": "1", "b": "two", "cont": "startend", "bare": ""}


def test_job_identity_and_task_keys():
    cfg = JobConfig.from_text(PROPS)
    assert cfg.job_name == "page-stats"
    assert cfg.window_ms == 2000
    assert cfg.max_messages == 1_000_000


def test_input_resolution_with_stream_alias():
    cfg = JobConfig.from_text(PROPS)
    assert cfg.task_inputs() == [("kafka", "pageviews"), ("testmem", "profiles")]
    assert cfg.task_outputs() == [("kafka", "page-stats-out")]


def test_kafka_descriptor_from_config():
    cfg = JobConfig.from_text(PROPS)
    src = cfg.build_source("kafka", "pageviews")
    assert src.topic == "pageviews"
    assert src.bootstrap_servers == "broker1:9092,broker2:9092"
    # oldest -> earliest Startpoint
    assert src.startpoint.kafka_option() == ("startingOffsets", "earliest")


def test_memory_stream_needs_harness_content(spark):
    from samza_spark.sources.descriptors import MemorySource

    cfg = JobConfig.from_text(PROPS)
    with pytest.raises(ValueError, match="profiles"):
        cfg.build_source("testmem", "profiles")
    mem = MemorySource([(1, "alice")], "id int, name string")
    srcs = cfg.build_sources(memory_streams={"profiles": mem})
    assert srcs["testmem.profiles"] is mem
    assert srcs["testmem.profiles"].read(spark).df.count() == 1


def test_store_resolution(spark, tmp_path):
    from samza_spark.tables.local import DurableLocalTable, LocalTable

    cfg = JobConfig.from_text(PROPS)
    assert cfg.store_names() == ["joiner-state", "scratch"]
    durable = cfg.build_store(
        spark, "joiner-state", "k string, v string", ["k"], str(tmp_path)
    )
    assert isinstance(durable, DurableLocalTable)
    plain = cfg.build_store(
        spark, "scratch", "k string, v string", ["k"], str(tmp_path)
    )
    assert isinstance(plain, LocalTable) and not isinstance(plain, DurableLocalTable)


def test_unknown_factory_raises():
    cfg = JobConfig.from_text(
        "systems.weird.samza.factory=com.x.UnknownSystemFactory\n"
    )
    with pytest.raises(ValueError, match="unknown factory"):
        cfg.system_kind("weird")


def test_samzalog_system_builds_log_source(spark, tmp_path):
    """SamzaLogSystemFactory maps to the replayable-log DataSource with
    the configured startpoint; batch read sees appended records."""
    from samza_spark.config import JobConfig
    from samza_spark.sources.log_datasource import append_records

    log_dir = str(tmp_path / "logs" / "orders")
    append_records(log_dir, 0, [("k1", "a", 1000), ("k2", "b", 2000)])
    cfg = JobConfig.from_text(
        "job.name=logjob\n"
        "task.inputs=wal.orders\n"
        "systems.wal.samza.factory=org.apache.samza.system.SamzaLogSystemFactory\n"
        "systems.wal.samza.offset.default=oldest\n"
        f"systems.wal.stagingDirectory={tmp_path}/logs\n"
    )
    src = cfg.build_source("wal", "orders")
    assert src.startpoint == "oldest"
    df = src.read(spark).df
    got = sorted((r["partition"], r["offset"], r["value"]) for r in df.collect())
    assert got == [(0, 0, "a"), (0, 1, "b")]
    assert src.read_stream(spark).df.isStreaming


def test_debezium_envelope_to_merge(spark):
    """from_debezium_records -> merge_upsert: the Kafka-Connect CDC tail
    applied to a snapshot."""
    import json as _json

    from samza_spark.pipeline.versioning import merge_upsert
    from samza_spark.sources.descriptors import from_debezium_records

    def env(before, after, op, ts):
        return (_json.dumps({"before": before, "after": after, "op": op, "ts_ms": ts}),)

    wire = spark.createDataFrame(
        [
            env(None, {"id": 1, "v": "a"}, "r", 10),           # snapshot read
            env({"id": 1, "v": "a"}, {"id": 1, "v": "a2"}, "u", 20),
            env({"id": 2, "v": "gone"}, None, "d", 30),
            env(None, {"id": 3, "v": "c"}, "c", 40),
        ],
        "value string",
    )
    changes = from_debezium_records(wire, "struct<id: bigint, v: string>")
    got = {(r["id"], r["v"], r["op"], r["seq"]) for r in changes.collect()}
    assert got == {
        (1, "a", "I", 10),
        (1, "a2", "U", 20),
        (2, "gone", "D", 30),
        (3, "c", "I", 40),
    }
    snapshot = spark.createDataFrame([(1, "a"), (2, "gone")], "id long, v string")
    merged = merge_upsert(
        snapshot, changes, id_col="id", order_cols=("seq",)
    )
    assert {(r["id"], r["v"]) for r in merged.collect()} == {(1, "a2"), (3, "c")}


def test_environment_config_rewriter():
    from samza_spark.config import JobConfig, apply_rewriters

    cfg = JobConfig.from_text(
        "job.name=rw\n"
        "job.config.rewriters=env\n"
        "job.config.rewriter.env.class=org.apache.samza.config.EnvironmentConfigRewriter\n"
        "task.window.ms=100\n"
    )
    out = apply_rewriters(
        cfg, env={"SAMZA_TASK_WINDOW_MS": "250", "SAMZA_NEW_KEY": "v", "OTHER": "x"}
    )
    assert out.props["task.window.ms"] == "250"  # env overrides file
    assert out.props["new.key"] == "v"
    assert "other" not in out.props
    assert out.job_name == "rw"


def _my_rewriter(name, props):
    props = dict(props)
    props["rewritten.by"] = name
    return props


def test_python_callable_rewriter_chain():
    from samza_spark.config import JobConfig, apply_rewriters

    cfg = JobConfig.from_text(
        "job.name=rw2\n"
        "job.config.rewriters=py\n"
        "job.config.rewriter.py.class=tests.test_config:_my_rewriter\n"
    )
    assert apply_rewriters(cfg).props["rewritten.by"] == "py"


def test_unknown_rewriter_raises():
    import pytest

    from samza_spark.config import JobConfig, apply_rewriters

    cfg = JobConfig.from_text(
        "job.name=rw3\njob.config.rewriters=x\n"
        "job.config.rewriter.x.class=com.example.Unknown\n"
    )
    with pytest.raises(ValueError):
        apply_rewriters(cfg)


def test_python_workers_start_through_the_engine_daemon(spark):
    """Sessions from get_session fork Python workers from
    samza_spark.worker_daemon, so in a task ``importlib.invalidate_caches()``
    re-reads no unchanged zip archive (pyspark.zip among them)."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [importers], "reads": [len(reads)]})

    for _ in range(2):
        [row] = spark.range(0, 1, 1, 1).mapInPandas(probe, "importers long, reads long").collect()
    assert row.importers > 0
    assert row.reads == 0
