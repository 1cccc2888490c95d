"""Tables: local upsert/delete/TTL, remote lookup (batching, rate limit,
retry), caching wrapper (SURVEY.md §2.7; TestLocalTableEndToEnd /
TestRemoteTableEndToEnd / TestRemoteTableWithBatchEndToEnd shapes)."""

import time

import pytest

from samza_spark.sources import MemorySource
from samza_spark.tables import (
    CachingTable,
    DurableLocalTable,
    InMemoryTable,
    LocalTable,
    RateLimiter,
    RemoteTable,
    RetryPolicy,
)


def test_local_table_upsert_and_delete(spark):
    t = InMemoryTable.from_rows(
        spark, [(1, "a"), (2, "b")], "k int, v string", ["k"]
    )
    t.merge_batch(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"))
    got = {r.k: r.v for r in t.df.collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # last-writer-wins upsert
    t.merge_batch(spark.createDataFrame([(1, None)], "k int, v string"), mode="delete")
    assert {r.k for r in t.df.collect()} == {2, 3}


def test_durable_table_survives_session_restart(spark, tmp_path):
    """The changelog-restore analog (KeyValueStorageEngine.scala:44-157):
    upserts, partial updates, and deletes written through a
    DurableLocalTable must be visible from a fresh session restoring the
    same warehouse path."""
    path = str(tmp_path / "wh")
    t = DurableLocalTable.open(
        spark, path, ["k"], schema="k int, v string, n int"
    )
    t.merge_batch(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, v string, n int")
    )
    t.merge_batch(
        spark.createDataFrame([(2, "B", 21), (3, "c", 30)], "k int, v string, n int")
    )
    t.update_batch(spark.createDataFrame([(1, 99)], "k int, n int"))
    t.merge_batch(spark.createDataFrame([(3,)], "k int"), mode="delete")
    # fresh session, fresh object: state must come back from parquet
    spark2 = spark.newSession()
    r = DurableLocalTable.open(spark2, path, ["k"])
    got = {row.k: (row.v, row.n) for row in r.df.collect()}
    assert got == {1: ("a", 99), 2: ("B", 21)}
    # and the restored table keeps accepting mutations with later seqs
    r.merge_batch(spark2.createDataFrame([(4, "d", 40)], "k int, v string, n int"))
    r2 = DurableLocalTable.open(spark.newSession(), path, ["k"])
    assert {row.k for row in r2.df.collect()} == {1, 2, 4}


def test_durable_table_compaction_truncates_changelog(spark, tmp_path):
    import os

    path = str(tmp_path / "wh2")
    t = DurableLocalTable.open(
        spark, path, ["k"], schema="k int, v string", compact_every=3
    )
    for i in range(7):
        t.merge_batch(spark.createDataFrame([(i, f"v{i}")], "k int, v string"))
    # compaction ran at least twice: base exists, changelog truncated since
    assert DurableLocalTable._has_parquet(os.path.join(path, "base"))
    clog = os.path.join(path, "changelog")
    # only post-compaction MUTATIONS remain (the truncation invariant;
    # files-per-mutation is an append-width detail, not the contract)
    seqs = {
        r[DurableLocalTable.SEQ_COL]
        for r in spark.read.parquet(clog)
        .select(DurableLocalTable.SEQ_COL)
        .distinct()
        .collect()
    }
    assert len(seqs) <= 2 and min(seqs) >= 5
    r = DurableLocalTable.open(spark.newSession(), path, ["k"])
    assert {row.k for row in r.df.collect()} == set(range(7))


def test_durable_table_streaming_upsert_restores(spark, tmp_path):
    """sendTo(table) from a stream, write-through: after the stream drains,
    a fresh session sees the upserts."""
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "z")], "k int, v string"
    ).repartition(1).write.parquet(src_dir)
    path = str(tmp_path / "wh3")
    t = DurableLocalTable.open(spark, path, ["k"], schema="k int, v string")
    q = (
        spark.readStream.schema("k int, v string")
        .parquet(src_dir)
        .writeStream.foreachBatch(lambda b, _e: t.merge_batch(b))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    r = DurableLocalTable.open(spark.newSession(), path, ["k"])
    got = {row.k: row.v for row in r.df.collect()}
    assert set(got) == {1, 2} and got[2] in ("y", "z")


def test_local_table_range_scan(spark):
    t = InMemoryTable.from_rows(
        spark, [(i, str(i)) for i in range(10)], "k int, v string", ["k"]
    )
    assert {r.k for r in t.range("k", 3, 6).collect()} == {3, 4, 5}


def test_remote_table_enrich_inner_and_left(spark):
    service = {1: {"name": "Ann"}, 2: {"name": "Bob"}}
    remote = RemoteTable(
        lookup_fn=lambda keys: {k: service[k] for k in keys if k in service},
        key_col="k",
        value_schema="name string",
    )
    df = MemorySource([(1,), (2,), (9,)], "k int").read(spark).df
    inner = remote.enrich(df, how="inner").collect()
    assert sorted((r.k, r.name) for r in inner) == [(1, "Ann"), (2, "Bob")]
    left = remote.enrich(df, how="left").collect()
    assert len(left) == 3
    assert {r.k: r.name for r in left}[9] is None


def test_remote_table_batching(spark):
    # the lookup runs on executors; smuggle the observed batch size back
    # through the returned values to assert the cap
    def lookup(keys):
        return {k: {"v": k * 2, "bs": len(keys)} for k in keys}

    remote = RemoteTable(lookup, "k", "v int, bs int", max_batch=10)
    df = spark.createDataFrame([(i,) for i in range(35)], "k int").coalesce(1)
    out = remote.enrich(df).collect()
    assert len(out) == 35 and all(r.v == r.k * 2 for r in out)
    assert max(r.bs for r in out) <= 10  # batch cap respected


def test_retry_policy_recovers_and_gives_up():
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise IOError("transient")
        return "ok"

    assert RetryPolicy(max_attempts=3, backoff_s=0.001).run(flaky) == "ok"
    with pytest.raises(IOError):
        RetryPolicy(max_attempts=2, backoff_s=0.001).run(
            lambda: (_ for _ in ()).throw(IOError("always"))
        )


def test_rate_limiter_throttles():
    rl = RateLimiter(rate=100, burst=1)
    t0 = time.monotonic()
    for _ in range(6):
        rl.acquire()
    elapsed = time.monotonic() - t0
    assert elapsed >= 0.04  # 5 extra credits at 100/s


def test_rate_limiter_acquire_beyond_burst_terminates():
    """credits > capacity must drain in capacity-sized instalments, not spin
    forever (enrich calls acquire(len(batch)) with batches bigger than burst)."""
    rl = RateLimiter(rate=1000, burst=100)
    t0 = time.monotonic()
    rl.acquire(250)  # 2.5x the bucket capacity
    elapsed = time.monotonic() - t0
    assert elapsed < 5  # terminates
    assert elapsed >= 0.1  # but did pay for ~150 credits beyond the burst


def test_caching_table_read_through():
    fetches = []

    def lookup(keys):
        fetches.extend(keys)
        return {k: {"v": str(k)} for k in keys}

    cached = CachingTable(
        RemoteTable(lookup, "k", "v string"), cache_size=100
    )
    out1 = cached.lookup_fn([1, 2, 3])
    out2 = cached.lookup_fn([2, 3, 4])
    assert set(out2) == {2, 3, 4}
    assert fetches == [1, 2, 3, 4]  # 2,3 served from cache on second call


def test_partial_update_update_only(spark):
    from samza_spark.tables.local import InMemoryTable

    t = InMemoryTable.from_rows(
        spark,
        [(1, "a", 10), (2, "b", 20)],
        "id int, name string, score int",
        ["id"],
    )
    # update only `score` for id=1; id=99 unknown -> dropped (UPDATE_ONLY)
    t.update_batch(spark.createDataFrame([(1, 99), (99, 1)], "id int, score int"))
    rows = {tuple(r) for r in t.df.collect()}
    assert rows == {(1, "a", 99), (2, "b", 20)}


def test_partial_update_with_defaults(spark):
    from samza_spark.tables.local import InMemoryTable

    t = InMemoryTable.from_rows(
        spark,
        [(1, "a", 10)],
        "id int, name string, score int",
        ["id"],
    )
    t.update_batch(
        spark.createDataFrame([(3, 30)], "id int, score int"),
        insert_missing=True,
        defaults={"name": "unknown"},
    )
    rows = {tuple(r) for r in t.df.collect()}
    assert rows == {(1, "a", 10), (3, "unknown", 30)}


def test_partial_update_rejects_bad_column(spark):
    from samza_spark.tables.local import InMemoryTable

    t = InMemoryTable.from_rows(spark, [(1, "a")], "id int, name string", ["id"])
    with pytest.raises(ValueError, match="not in table schema"):
        t.update_batch(spark.createDataFrame([(1, 5)], "id int, nosuch int"))


def test_side_input_stream_feeds_table(spark, tmp_path):
    """Side inputs (LocalTableDescriptor.java:57-97): a small streaming
    query keeps a lookup table current via per-batch merge."""
    from samza_spark.operators import MessageStream
    from samza_spark.sources import FileSource
    from samza_spark.tables.local import InMemoryTable

    d = tmp_path / "side"
    d.mkdir()
    spark.createDataFrame([(1, "v1"), (3, "v3")], "id int, v string").write.parquet(
        str(d / "b1")
    )
    table = InMemoryTable.from_rows(spark, [(1, "old"), (2, "keep")], "id int, v string", ["id"])
    src = FileSource(f"{d}/*", schema="id int, v string")
    q = table.write_stream(src.read_stream(spark))
    q.processAllAvailable()
    q.stop()
    rows = {tuple(r) for r in table.df.collect()}
    assert rows == {(1, "v1"), (2, "keep"), (3, "v3")}


def test_bootstrap_table_drains_stream_first(spark, tmp_path):
    """Bootstrap streams (BootstrappingChooser analog): the side input is
    fully consumed into a lookup table before the main job uses it."""
    from samza_spark.sources import FileSource, bootstrap_table

    d = tmp_path / "boot"
    d.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").write.parquet(
        str(d / "f1")
    )
    src = FileSource(f"{d}/*", schema="id int, v string")
    # force the streaming-drain path by removing batch read
    src_stream_only = FileSource(f"{d}/*", schema="id int, v string")
    src_stream_only.read = None
    table = bootstrap_table(spark, src_stream_only, ["id"])
    assert sorted(tuple(r) for r in table.df.collect()) == [(1, "a"), (2, "b")]
    # batch-readable source takes the direct path
    t2 = bootstrap_table(spark, src, ["id"])
    assert t2.df.count() == 2


def test_bootstrap_table_spools_under_the_removed_root(spark, tmp_path):
    """Without ``spool_dir`` a drained bootstrap stream spools under the
    process's one spool root, which is removed at exit."""
    import os

    from samza_spark import spool
    from samza_spark.sources import FileSource, bootstrap_table

    d = tmp_path / "boot_root"
    d.mkdir()
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(str(d / "f1"))
    src = FileSource(f"{d}/*", schema="id int, v string")
    src.read = None  # force the streaming-drain path
    assert bootstrap_table(spark, src, ["id"]).df.count() == 1
    assert any(n.startswith("ss_bootstrap_") for n in os.listdir(spool._root()))


def test_es_sink_bulk_runs_executor_side(spark, tmp_path):
    """ES sink builds bulk actions per PARTITION on executors (no driver
    collect) and honors max_actions_per_bulk chunking
    (ElasticsearchSystemProducer flushMaxActions semantics)."""
    import glob
    import json
    import os
    import uuid

    from samza_spark.sources import ElasticsearchSink

    spool = str(tmp_path / "es_bulk")
    os.makedirs(spool, exist_ok=True)

    def bulk_fn(actions, _spool=spool):
        # executor-side recorder: one file per bulk call (a driver-side list
        # would stay empty — python workers are separate processes, which is
        # itself proof the build happens off-driver)
        with open(f"{_spool}/{uuid.uuid4().hex}.json", "w") as f:
            json.dump(actions, f)

    df = spark.range(100).selectExpr("id", "concat('doc', id) AS body").repartition(4)
    sink = ElasticsearchSink(
        index="docs", id_col="id", bulk_fn=bulk_fn, max_actions_per_bulk=10
    )
    sink.write(df)
    calls = [json.load(open(p)) for p in glob.glob(f"{spool}/*.json")]
    assert len(calls) >= 4  # at least one bulk per non-empty partition
    assert all(len(c) <= 10 for c in calls)  # flushMaxActions respected
    ids = {a["_id"] for c in calls for a in c}
    assert ids == set(range(100))
    assert all(
        a["_index"] == "docs" and a["_source"]["body"] == f"doc{a['_id']}"
        for c in calls
        for a in c
    )


def test_bootstrap_table_large_stream_no_driver_materialization(spark, tmp_path):
    """A 1M-row bootstrap stream drains through parquet spool files —
    executor -> files -> executor, nothing driver-side
    (BootstrappingChooser handles arbitrarily large streams)."""
    from samza_spark.sources import FileSource, bootstrap_table

    d = tmp_path / "bigboot"
    d.mkdir()
    spark.range(1_000_000).selectExpr("id", "id % 97 AS v").write.parquet(
        str(d / "f1")
    )
    src = FileSource(f"{d}/*", schema="id bigint, v bigint")
    src.read = None  # force the streaming-drain path
    table = bootstrap_table(
        spark, src, ["id"], spool_dir=str(tmp_path / "spool")
    )
    assert table.df.count() == 1_000_000
    assert table.df.filter("v = 96").count() == 1_000_000 // 97


def test_local_table_lineage_bounded_under_streaming_upserts(spark):
    """Regression: repeated merge_batch must not build an ever-deeper
    anti-join+union plan — compaction truncates lineage every N mutations,
    with merge semantics unchanged."""
    t = LocalTable(
        spark.createDataFrame([(i, 0) for i in range(20)], "id int, v int"),
        ["id"],
        compact_every=10,
    )
    depth_at = {}
    for b in range(1, 41):
        upd = spark.createDataFrame([(b % 20, b)], "id int, v int")
        t.merge_batch(upd)
        if b in (5, 40):
            depth_at[b] = len(
                t._df._jdf.queryExecution().analyzed().numberedTreeString().splitlines()
            )
    # flat plan depth: 40 batches must not be deeper than ~one compaction
    # window beyond 5 batches
    assert depth_at[40] <= depth_at[5] + 40, depth_at
    rows = {r.id: r.v for r in t.df.collect()}
    # key k last updated at the largest b <= 40 with b % 20 == k
    assert rows[0] == 40 and rows[19] == 39 and rows[1] == 21
    assert len(rows) == 20


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed co-located join: both sides bucketed on the key -> the
    equi-join plan contains no Exchange (shuffle), the Spark analog of
    Samza's matched-partition stream-table joins."""
    from samza_spark.tables.bucketed import read_bucketed, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        a = spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(1000).selectExpr("id AS k", "id * 3 AS vb")
        write_bucketed(a, "bk_a", ["k"], num_buckets=8, sort_cols=["k"])
        write_bucketed(b, "bk_b", ["k"], num_buckets=8, sort_cols=["k"])
        joined = read_bucketed(spark, "bk_a").join(
            read_bucketed(spark, "bk_b"), on="k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from samza_spark.pipeline.dedup import streaming_dedup
    from samza_spark.sources import FileSource, MemorySink
    import datetime as dt

    d = tmp_path / "sdedup"
    d.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [("e1", base, "a"), ("e1", base, "a"), ("e2", base, "b")]  # e1 replayed
    spark.createDataFrame(rows, "event_id string, ts timestamp, v string").write.parquet(
        str(d / "f1")
    )
    src = FileSource(f"{d}/*", schema="event_id string, ts timestamp, v string")
    out = streaming_dedup(src.read_stream(spark), ["event_id"], "ts", "10 minutes")
    sink = MemorySink("sdedup_out", output_mode="append")
    q = out.send_to(sink)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    rows = sorted(r.event_id for r in sink.collect(spark))
    assert rows == ["e1", "e2"]


def test_durable_table_stream_evaluates_each_row_once(spark, tmp_path):
    """A merge materialises its batch once: a side-effecting UDF streamed
    into a DurableLocalTable that compacts every 2nd merge runs once per
    row, and base/ holds the values the changelog recorded."""
    import os
    import uuid

    from pyspark.sql import functions as F

    calls = str(tmp_path / "calls")
    os.makedirs(calls)

    def tag(k, _calls=calls):
        # executor-side recorder: one file per call, named key-value
        v = uuid.uuid4().hex
        open(f"{_calls}/{k}-{v}", "w").close()
        return v

    tag_udf = F.udf(tag, "string").asNondeterministic()
    src = tmp_path / "src"
    for b in range(5):  # five files, one micro-batch each
        spark.range(b * 4, b * 4 + 4).selectExpr("CAST(id AS INT) AS k").coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
    path = str(tmp_path / "wh")
    t = DurableLocalTable.open(
        spark, path, ["k"], schema="k int, v string", compact_every=2
    )
    q = (
        spark.readStream.schema("k int")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .select("k", tag_udf("k").alias("v"))
        .writeStream.foreachBatch(lambda b, _e: t.merge_batch(b))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    recorded = {}
    for name in os.listdir(calls):
        k, v = name.split("-")
        recorded.setdefault(int(k), []).append(v)
    assert {k: len(vs) for k, vs in recorded.items()} == {k: 1 for k in range(20)}
    base = {r.k: r.v for r in spark.read.parquet(os.path.join(path, "base")).collect()}
    clog = {
        r.k: r.v for r in spark.read.parquet(os.path.join(path, "changelog")).collect()
    }
    assert len(base) == 16 and len(clog) == 4  # compacted after merges 2 and 4
    assert {**base, **clog} == {k: vs[0] for k, vs in recorded.items()}
    assert {r.k: r.v for r in t.df.collect()} == {**base, **clog}


def test_local_table_holds_triggered_window_stream_rows(spark, tmp_path):
    """An in-memory table fed by a triggered-window stream, compacting every
    2nd merge, holds exactly the replay's panes: no compaction or read runs
    a committed micro-batch's stateful operator again. Each window gets 2
    rows per batch against a count(2) trigger, so the stream fires where the
    replay does."""
    import datetime as dt
    import os

    from samza_spark.operators import Windows
    from samza_spark.operators.windows import AccumulationMode, Triggers
    from samza_spark.sources import FileSource
    from samza_spark.streaming.stateful import (
        AggSpec,
        await_condition,
        triggered_window_batch,
    )

    schema = "k string, t timestamp, v double"
    batches = [
        [(k, dt.datetime(2024, 1, 1, 10, 0, s), float(s) * m)
         for k, m in (("a", 1.5), ("b", -0.25))
         for s in (off, off + 1, 6 + off, 7 + off)]
        for off in (0, 2)
    ]
    for i, rows in enumerate(batches):
        d = tmp_path / "src" / f"b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        for f in d.iterdir():  # distinct mtimes -> deterministic batch order
            os.utime(f, (1_700_000_000 + i * 10,) * 2)
    spec = (
        Windows.keyed_tumbling_window("k", "t", "6 seconds")
        .set_early_trigger(Triggers.count(2))
        .set_accumulation_mode(AccumulationMode.ACCUMULATING)
    )
    aggs = [AggSpec("n", "count"), AggSpec("s", "sum", "v")]
    replay = triggered_window_batch(
        spark.createDataFrame(batches[0] + batches[1], schema), spec, aggs
    )
    table = LocalTable(
        spark.createDataFrame([], replay.schema),
        ["k", "window_start", "pane_seq"],
        compact_every=2,
    )
    src = FileSource(f"{tmp_path}/src/*", schema=schema, max_files_per_trigger=1)
    q = src.read_stream(spark).window(spec, *aggs).send_to_table(table)

    def all_closed():  # every row read and no window open: final panes merged
        p = q.lastProgress
        return bool(
            p and p["stateOperators"] and p["stateOperators"][0]["numRowsTotal"] == 0
            and sum(x["numInputRows"] for x in q.recentProgress) == 16
        )

    ok = await_condition(q, all_closed, timeout_s=90)
    q.stop()
    q.awaitTermination(30)
    assert ok, f"expected 4 final panes, got {table.df.collect()}"
    assert sorted(map(tuple, table.df.collect())) == sorted(map(tuple, replay.collect()))
